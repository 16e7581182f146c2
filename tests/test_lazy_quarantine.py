"""Lazy quarantine: stale/low-LSN events are extracted at compaction from
the stored __epoch/__lsn columns — same audited set as the eager per-epoch
path, at zero per-epoch cost (the scale rationale is measured in
BENCH/BASELINE.md)."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import make_events
from crba_etl_spark.engine import CDCEngine


def _apply_stale_scenario(spark, eng):
    eng.apply_epoch(make_events(spark, [
        (10, 0, "I", "c1", 0, "user", "v10", None, 0, 0),
        (20, 0, "I", "c2", 0, "user", "w20", None, 0, 1),
    ]), 0)
    # epoch 1: one stale (lsn 5 < applied 10 for c1/0), one fresh
    eng.apply_epoch(make_events(spark, [
        (5, 1, "U", "c1", 0, "user", "stale5", None, 0, 2),
        (30, 1, "U", "c2", 0, "user", "w30", None, 0, 3),
    ]), 1)
    # epoch 2: another stale for the same key, lower than both
    eng.apply_epoch(make_events(spark, [
        (3, 2, "U", "c1", 0, "user", "stale3", None, 0, 4),
    ]), 2)


def test_lazy_quarantine_extracted_at_compaction(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, quarantine="lazy")
    _apply_stale_scenario(spark, eng)
    # nothing audited yet (lazy) ...
    qdir = os.path.join(root, "quarantine")
    assert not os.path.exists(qdir) or not os.listdir(qdir)
    eng.compact()
    q = spark.read.parquet(qdir + "/*")
    got = {(r.lsn, r.conv_id, r.turn_idx, r.quarantine_epoch) for r in q.collect()}
    assert got == {(5, "c1", 0, 1), (3, "c1", 0, 2)}
    # final state unaffected
    final = {(r.conv_id, r.turn_idx): r.text for r in eng.read_final().collect()}
    assert final == {("c1", 0): "v10", ("c2", 0): "w30"}


def test_lazy_matches_eager_set(spark, tmpdir_):
    r1 = os.path.join(tmpdir_, "lazy")
    r2 = os.path.join(tmpdir_, "eager")
    lazy = CDCEngine(spark, r1, n_buckets=4, quarantine="lazy")
    eager = CDCEngine(spark, r2, n_buckets=4, quarantine="eager")
    _apply_stale_scenario(spark, lazy)
    _apply_stale_scenario(spark, eager)
    lazy.compact()
    ql = spark.read.parquet(os.path.join(r1, "quarantine") + "/*")
    qe = spark.read.parquet(os.path.join(r2, "quarantine") + "/*")
    sl = {(r.lsn, r.conv_id, r.turn_idx) for r in ql.collect()}
    se = {(r.lsn, r.conv_id, r.turn_idx) for r in qe.collect()}
    assert sl == se
    # and both engines converge to the same final state
    fl = lazy.read_final().orderBy("conv_id", "turn_idx").collect()
    fe = eager.read_final().orderBy("conv_id", "turn_idx").collect()
    assert fl == fe
