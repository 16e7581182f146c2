"""Declarative invariant suite over the final table (FIXTURES.md F3) —
the Spark re-expression of the reference's great_expectations suites
(/root/reference/validation/great_expectations/expectations/
sdmx_indicator_suite.json:3 (size=15322), crba_final_file_suite.json:3
(size=738)): key uniqueness, non-null keys, value-in-set, per-key
monotonicity, row-count identity."""

import os

import pytest
from pyspark.sql import Window, functions as F

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream
from crba_etl_spark.metrics import load_lineage, load_metrics


@pytest.fixture(scope="module")
def applied(tmp_path_factory, spark):
    d = str(tmp_path_factory.mktemp("stream"))
    generate_stream(d, StreamSpec(seed=42, n_events=8000, n_epochs=4, evolve_epoch=2))
    root = str(tmp_path_factory.mktemp("table"))
    eng = CDCEngine(spark, root, n_buckets=8)
    eng.replay(d)
    return d, eng


def test_key_uniqueness(spark, applied):
    _, eng = applied
    df = eng.read_final()
    total = df.count()
    distinct = df.select("conv_id", "turn_idx").distinct().count()
    assert total == distinct


def test_non_null_keys_and_role_domain(spark, applied):
    _, eng = applied
    df = eng.read_final()
    assert df.filter(F.col("conv_id").isNull() | F.col("turn_idx").isNull()).count() == 0
    bad = df.filter(~F.col("role").isin("user", "assistant", "system", "tool"))
    assert bad.count() == 0


def test_ts_monotone_per_conversation(spark, applied):
    _, eng = applied
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    df = eng.read_final().withColumn("prev_ts", F.lag("ts").over(w))
    violations = df.filter(F.col("prev_ts") > F.col("ts")).count()
    assert violations == 0


def test_final_count_equals_live_keys(spark, applied):
    """row count == |distinct keys whose max-LSN op != D| (F3)."""
    d, eng = applied
    ev = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(d, f"epoch={k}") for k in range(4)]
    )
    from crba_etl_spark.operators.dedup import reduce_batch

    expected = reduce_batch(ev).filter(F.col("op") != "D").count()
    assert eng.read_final().count() == expected


def test_metrics_and_lineage_tables(spark, applied):
    _, eng = applied
    m = load_metrics(spark, eng.metrics_dir)
    assert m.count() == 4
    row = m.orderBy("epoch").collect()[0]
    assert row.events_in > 0 and row.rows_applied > 0
    lin = load_lineage(spark, eng.metrics_dir)
    # every applied epoch contributed lineage rows with positive counts
    assert lin.filter(F.col("rows") <= 0).count() == 0
    assert {r.epoch for r in lin.select("epoch").distinct().collect()} == {0, 1, 2, 3}


def test_applied_lsn_watermark_monotone(spark, applied):
    """per-bucket applied-LSN high watermark is monotone across epochs."""
    _, eng = applied
    stored = eng.table.read_stored(spark)
    from crba_etl_spark.icelite import bucket_expr

    hw = (
        stored.withColumn("b", bucket_expr(eng.table.n_buckets()))
        .groupBy("b")
        .agg(F.max("__lsn").alias("hw"))
    )
    assert hw.filter(F.col("hw").isNull()).count() == 0
