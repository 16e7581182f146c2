"""Scan-layout-independent parallelism for compute-bound stages.

The driver testdata tables (and any small ingest file) are single
parquet files with one row group, so a Spark scan yields ONE input
split — and everything Catalyst fuses with the scan (shingling, md5
hashing, signature aggregation, dot products) runs in one task no
matter how many cores the session has. Measured in round 7: the whole
36 s of ``minhash_lsh_candidates`` at sf1.0 was a single core working
through ~14.5M shingle hashes while 31 cores idled.

:func:`spread_compute` decouples a compute-bound stage's parallelism
from the source file layout: if the input relation has fewer partitions
than the session's default parallelism, round-robin repartition it to
that parallelism; otherwise return it unchanged. Call it on the
NARROW projection that feeds the expensive work (ids + the columns the
stage needs), never on a full-width relation, so the exchange moves
kilobytes per row-group of compute.

Scale behavior: at real corpus sizes a scan has far more splits than
the cluster has cores, so this is a structural no-op — the conditional
exists precisely so the fix for tiny-file inputs cannot become an
accidental full-corpus shuffle at 100 TB. The partition count comes
from ``defaultParallelism`` (i.e. the cluster's core count), never a
constant tuned to this sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_compute(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff it
    currently has fewer partitions than that; no-op otherwise (and on
    anything whose partitioning cannot be inspected, e.g. streaming
    relations).

    Wrap only scan-level projections (scan → filter/select, no
    exchange). Reading ``df.rdd`` forces the final physical plan; with
    AQE on, a plan that contains a shuffle materializes its upstream
    stages there, and the separately planned ``repartition`` returned
    here does not reuse that output — the upstream runs twice."""
    spark = df.sparkSession
    p = min_parallelism or spark.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 0 < n < p:
        return df.repartition(p)
    return df
