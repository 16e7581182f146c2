"""Driver contract for the spark-graft builder (PySpark target).

entry():   flagship — map the sf0.001 events table to a CDC change stream
           over transcripts(conv_id, turn_idx, ...), replay it through the
           full engine (icelite table, exactly-once epochs, MOR deltas),
           and return the reconstructed final transcript state.
queries(): one entry per implemented operator from SURVEY.md §2 +
           training-data ops (dedup / similarity / text analysis).
oracle_sql(): exact DuckDB SQL for EVERY query — including the k-means
           IVF ANN (deterministic decimal-exact Lloyd's, unrolled in
           SQL) and the hyperplane-LSH paths (literal plane vectors).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crba_etl_spark import queries as Q  # noqa: E402


def _events_as_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic events→change-stream mapping (same as
    queries.q_cdc_replay_reduce, plus epoch + ingest_ts envelope)."""
    ev = Q.load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("lsn"),
        (F.col("event_id") % 4).alias("epoch"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "purchase", "UPSERT")
        .otherwise("U")
        .alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.col("event_id") % 40).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
            (F.col("event_id") % 4).cast("int") + 1,
        ).alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", "browser").alias("tool"),
        F.col("ts"),
        F.col("ts").alias("ingest_ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay of the sf0.001 events stream into an
    icelite transcripts table; returns the final state."""
    from crba_etl_spark.engine import CDCEngine

    sf_dir = "/root/testdata/sf0.001"
    root = os.path.join(tempfile.gettempdir(), "crba_entry_table")
    shutil.rmtree(root, ignore_errors=True)
    engine = CDCEngine(spark, root, n_buckets=8)
    cdc = _events_as_cdc(spark, sf_dir)
    for k in range(4):
        engine.apply_epoch(cdc.filter(F.col("epoch") == k), k)
    return engine.read_final().orderBy("conv_id", "turn_idx", "ts")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in Q.registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in Q.registry().items() if sql is not None
    }
