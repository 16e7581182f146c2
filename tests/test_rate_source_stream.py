"""A real (non-file) streaming source through the apply path: Spark's
built-in `rate` source has genuine offsets, triggers and backpressure —
the closest broker stand-in that needs no external process. Each rate
value maps DETERMINISTICALLY to a change event, so after stopping the
query the applied prefix [0, K) is known exactly and the table state
must equal a batch apply of the same range through the same engine."""

import os

import pandas as pd
from pyspark.sql import functions as F

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.schema import TRANSCRIPT


def _as_events(df):
    """value → change event (pure column arithmetic — identical for the
    streaming and the batch-oracle side)."""
    v = F.col("value")
    return df.select(
        v.alias("lsn"),
        (v % 3 == 2).alias("_is_del"),
        F.concat(F.lit("c"), (v % 40).cast("string")).alias("conv_id"),
        ((v / 40).cast("long") % 10).cast("int").alias("turn_idx"),
        F.when(v % 3 == 2, "D").otherwise(F.when(v % 2 == 0, "I").otherwise("U")).alias("op"),
        F.when(v % 3 == 2, F.lit(None)).otherwise(F.lit("user")).alias("role"),
        F.when(v % 3 == 2, F.lit(None))
        .otherwise(F.concat(F.lit("text-"), v.cast("string")))
        .alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1700000000) + v).alias("ts"),
        F.timestamp_seconds(F.lit(1700000000) + v).alias("ingest_ts"),
    ).drop("_is_del")


def test_rate_source_stream_matches_batch_apply(spark, tmpdir_):
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), payload_schema=TRANSCRIPT,
        n_buckets=4,
    )

    def apply_batch(batch, batch_id):
        ev = _as_events(batch).withColumn("epoch", (F.col("lsn") / 500).cast("long"))
        for k in sorted(r[0] for r in ev.select("epoch").distinct().collect()):
            eng.apply_epoch(
                ev.filter(F.col("epoch") == k),
                int(k),
                slice_marker=f"rate:e{k}:b{batch_id}",
                mark_epoch=False,  # the rate stream never "completes" an epoch
            )

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1500)
        .option("numPartitions", 2)
        .load()
        .select("value")
    )
    q = (
        rate.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(tmpdir_, "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            time.sleep(2)
            snap = eng.table.snapshot()
            if snap["version"] >= 1:
                stored = eng.table.read_stored(spark)
                if (stored.agg(F.max("__lsn")).collect()[0][0] or 0) >= 2000:
                    break
    finally:
        q.stop()

    stored = eng.table.read_stored(spark)
    hi = stored.agg(F.max("__lsn")).collect()[0][0]
    assert hi is not None and hi >= 1000  # the stream really flowed

    # q.stop() may tear a multi-epoch micro-batch mid-way, but every
    # committed SLICE is atomic, and each slice stores its per-key
    # REDUCED winners. Winners-of-winners = the overall per-key winner,
    # so batch-applying exactly the stored lsn set (each lsn maps to
    # its event deterministically) must reproduce the identical final
    # state — this exercises slice markers, cross-slice max-LSN
    # resolution and tombstones over a source with real offsets.
    applied = [int(r[0]) for r in stored.select("__lsn").distinct().collect()]
    assert len(applied) >= 300  # several slices' winners are present

    # batch-apply the SAME lsn set through a second engine: final
    # visible state must be identical (same reduce/merge/tombstone
    # semantics through a real streaming source's offsets/triggers)
    oracle_eng = CDCEngine(
        spark, os.path.join(tmpdir_, "oracle_t"), payload_schema=TRANSCRIPT,
        n_buckets=4,
    )
    lsns = spark.createDataFrame([(x,) for x in applied], "value long")
    oracle_eng.apply_epoch(_as_events(lsns), 0)
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx")
        .toPandas().reset_index(drop=True)
    )
    exp = (
        oracle_eng.read_final().orderBy("conv_id", "turn_idx")
        .toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert len(exp) > 0
