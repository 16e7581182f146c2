"""Source-aligned (exchange-free) ingest: when the change stream is
already clustered by the table's bucket function — here a Spark
bucketed table, the batch analog of a keyed Kafka topic with
partitions = buckets — `apply_epoch(source_aligned=True)` must

1. plan ZERO exchanges in the reduce (bucket partitioning satisfies the
   group clustering because conv_id ⊆ group keys),
2. keep every icelite bucket inside one scan partition (icelite's
   bucket function is the same murmur3-pmod Spark's bucketBy uses), and
3. produce a final state identical to the default (repartitioning)
   path against the DuckDB replay oracle.

BENCH/EPOCH_PROFILE.md carries the measured win; this test pins the
correctness and the plan shape.
"""

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from crba_etl_spark.engine import CDCEngine, list_epochs
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import bucket_expr
from crba_etl_spark.operators.dedup import reduce_batch

N_BUCKETS = 8


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("s"))
    generate_stream(d, StreamSpec(seed=31, n_events=6000, n_epochs=3, evolve_epoch=None))
    return d


def _bucketized(spark, stream, epoch, run_tag):
    """Producer side: the epoch as a bucketed table (the clustering the
    producer pays once, instead of the consumer per apply). The name is
    unique per test run: a managed table's warehouse LOCATION outlives
    the in-memory catalog across pytest sessions, so a fixed name hits
    LOCATION_ALREADY_EXISTS on the second run."""
    name = f"aligned_{run_tag}_e{epoch}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        spark.read.parquet(os.path.join(stream, f"epoch={epoch}"))
        .write.bucketBy(N_BUCKETS, "conv_id")
        .mode("overwrite")
        .saveAsTable(name)
    )
    return spark.table(name)


def test_aligned_apply_is_exchange_free_and_correct(spark, stream, tmpdir_):
    import uuid

    run_tag = uuid.uuid4().hex[:8]
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=N_BUCKETS)
    made = []
    for k in list_epochs(stream):
        ev = _bucketized(spark, stream, k, run_tag)
        made.append(f"aligned_{run_tag}_e{k}")

        # (1) the reduce over the bucketed scan plans no exchange
        plan = reduce_batch(ev)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

        # (2) bucket ↔ scan-partition alignment (hash functions equal)
        spanning = (
            ev.withColumn("_b", bucket_expr(N_BUCKETS))
            .withColumn("_p", F.spark_partition_id())
            .groupBy("_b")
            .agg(F.count_distinct("_p").alias("n"))
            .filter("n > 1")
            .count()
        )
        assert spanning == 0

        eng.apply_epoch(ev, k, source_aligned=True)

    # (3) end state equals the independent DuckDB replay
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    for name in made:  # dropping a managed table removes its location
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_misaligned_input_still_correct(spark, stream, tmpdir_):
    """The safety contract: source_aligned=True on UNALIGNED input may
    cost extra files per bucket but can never produce wrong rows —
    Catalyst inserts the reduce's missing exchange and the write
    assigns buckets by value."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=N_BUCKETS)
    for k in list_epochs(stream):
        ev = spark.read.parquet(os.path.join(stream, f"epoch={k}"))  # plain
        eng.apply_epoch(ev, k, source_aligned=True)
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
