"""MERGE INTO-style apply (M3): reduced change batch → icelite delta files.

Semantics (Iceberg MERGE equivalent, keyed by (conv_id, turn_idx)),
realised by max-``__lsn`` resolution over base ∪ deltas on read and at
compaction:

- batch row newer than the stored row (``lsn > __lsn``) → the batch row
  wins (tombstone if op = D, else upsert payload);
- batch row for an absent key → insert (a D for an absent key inserts a
  tombstone, so a straggling lower-LSN insert can never resurrect it);
- batch row stale (``lsn <= __lsn`` already applied) → the stored row
  wins and the event goes to the quarantine table (late/low-LSN data is
  *audited*, never silently dropped) — eagerly here, or lazily during
  compaction;
- stored rows whose key is untouched are never read or rewritten.

Scale design:
- merge-on-read: each epoch appends per-bucket delta files and commits —
  apply cost is O(batch) regardless of table size (BENCH/COW_VS_MOR.md
  measures the eager-rewrite alternative growing with the table);
- the table is bucketed by ``conv_id`` (icelite bucket transform); the
  delta write lands each row in its bucket's partition, and the eager
  stale audit scans only the buckets the batch hits;
- row/tombstone counts ride the write job via ``Observation`` (zero
  extra passes).

Reference analog: the right-join to the canonical country universe with
"No data" fill (JOIN-UNIVERSE, SURVEY.md §2.3) — key-complete resolution
of new data against an authoritative key set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..icelite import BUCKET_COL, CommitConflict, IceliteTable, bucket_expr
from ..schema import DELETED_COL, EPOCH_COL, LSN_COL
from .evolve import align_to, merge_schemas

#: change-envelope columns that are not part of the stored payload
ENVELOPE_COLS = {"op", "lsn", "epoch", "ingest_ts"}


def batch_payload_schema(batch: DataFrame) -> T.StructType:
    return T.StructType(
        [f for f in batch.schema.fields if f.name not in ENVELOPE_COLS]
    )


def _skip_stats(
    table: IceliteTable,
    snap: dict,
    epoch: int,
    slice_marker: str | None,
    mark_epoch: bool,
) -> dict:
    """Stats for a skipped (already-committed) apply. If this was a
    retried SLICE whose epoch has since been learned complete
    (``mark_epoch=True`` — e.g. the producer's ``_DONE`` marker appeared
    only after the slice was first applied), the skip must still promote
    the epoch into ``committed_epochs`` with a metadata-only commit, or
    the exactly-once epoch marker would be permanently missed (the data
    is state-idempotent either way, but a later full replay would re-run
    the whole epoch)."""
    if (
        slice_marker is not None
        and mark_epoch
        and epoch not in set(snap["committed_epochs"])
    ):
        table.mark_epoch_committed(epoch)
        return {
            "epoch": epoch,
            "skipped": True,
            "reason": "slice already committed; epoch marker promoted",
        }
    return {"epoch": epoch, "skipped": True, "reason": "already committed"}


def apply_delta_epoch(
    spark: SparkSession,
    table: IceliteTable,
    reduced: DataFrame,
    epoch: int,
    quarantine_dir: str | None = None,
    pre_partitioned: bool = False,
    slice_marker: str | None = None,
    mark_epoch: bool = True,
    slice_files: list[str] | None = None,
    aux_add: dict[str, list[str]] | None = None,
) -> dict:
    """Merge-on-read apply (the sustained-throughput path): write the
    reduced batch as per-bucket **delta files** and commit — nothing in
    the table is read or rewritten, so apply cost is O(batch) regardless
    of table size. Conflicts (multiple versions of a key across base and
    deltas) are resolved on read / at compaction by max-__lsn per key.

    If ``quarantine_dir`` is set, stale events (lsn ≤ already-applied lsn
    for the key) are additionally audited eagerly with a column-pruned
    scan of the affected buckets (reads only key + __lsn columns).

    ``slice_marker`` switches the idempotence unit from whole epoch to
    this slice (streaming micro-batch carrying part of an epoch);
    ``mark_epoch=False`` additionally withholds the epoch id from
    ``committed_epochs`` so a later batch replay won't skip the rest.

    Concurrency: the commit validates that the table's BUCKET COUNT is
    still the one the delta files were written under — a rebucket
    landing between the write and the commit would otherwise leave the
    epoch's rows keyed by the old bucket function inside a table whose
    readers prune by the new one (silent wrong reads). On that specific
    conflict the files are re-written under the fresh bucketing and the
    commit retried; a crashed attempt's dir is an unreferenced orphan.
    """
    snap = table.snapshot()
    if IceliteTable._already_committed(snap, epoch, slice_marker):
        return _skip_stats(table, snap, epoch, slice_marker, mark_epoch)

    t0 = time.monotonic()
    key_cols = table.key_cols(snap)

    evolved = merge_schemas(table.schema(snap), batch_payload_schema(reduced))
    payload_cols = [f.name for f in evolved.fields]
    batch = align_to(
        reduced,
        T.StructType(
            list(evolved.fields)
            + [f for f in reduced.schema.fields if f.name in ("op", "lsn")]
        ),
    )
    for _attempt in range(8):
        # ``snap``: the skip-check read on the first attempt, the
        # post-conflict read on a retry
        n_buckets = table.n_buckets(snap)
        delta = batch.select(
            *payload_cols,
            F.col("lsn").alias(LSN_COL),
            (F.col("op") == "D").alias(DELETED_COL),
            F.lit(epoch).cast("long").alias(EPOCH_COL),
        ).withColumn(BUCKET_COL, bucket_expr(n_buckets, key_cols[0]))

        obs = Observation(f"delta-epoch-{epoch}-a{_attempt}")
        delta = delta.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.col(DELETED_COL).cast("int")), F.lit(0)).alias("dels"),
        )

        version = snap["version"] + 1
        new_files = table.write_merged(
            delta, epoch=epoch, version=version, repartition=not pre_partitioned
        )
        m = obs.get

        stale_count = 0
        if quarantine_dir is not None:
            affected = set(new_files.keys())
            # applied high-watermark per key = max __lsn over base+deltas of
            # the affected buckets: a column-pruned scan (3 columns reach the
            # parquet reader) + two-phase hash agg — no full-row resolution
            applied = (
                table.read_stored(spark, buckets=affected)
                .select(*key_cols, LSN_COL)
                .groupBy(*key_cols)
                .agg(F.max(LSN_COL).alias("applied_lsn"))
            )
            stale_rows = (
                batch.join(applied, on=key_cols, how="inner")
                .filter(F.col("lsn") <= F.col("applied_lsn"))
                .select(
                    F.lit(epoch).alias("quarantine_epoch"),
                    "lsn",
                    "op",
                    *key_cols,
                    *[c for c in payload_cols if c not in key_cols],
                    "applied_lsn",
                )
            )
            sobs = Observation(f"stale-epoch-{epoch}-a{_attempt}")
            stale_rows = stale_rows.observe(sobs, F.count(F.lit(1)).alias("n"))
            stale_rows.write.mode("overwrite").parquet(
                f"{quarantine_dir}/epoch={epoch}"
            )
            stale_count = int(sobs.get["n"])

        stats = {
            "epoch": epoch,
            "skipped": False,
            "keys_in_batch": int(m["rows"]),
            "affected_buckets": sorted(new_files.keys()),
            "n_affected_buckets": len(new_files),
            "rows_out": int(m["rows"]),
            "rows_applied": int(m["rows"]) - stale_count,
            "stale_quarantined": stale_count,
            "tombstones_in_table": int(m["dels"]),
            "version": version,
            "apply_s": round(time.monotonic() - t0, 3),
        }
        try:
            table.commit_deltas(
                epoch=epoch,
                new_bucket_files=new_files,
                schema=evolved,
                stats={k: v for k, v in stats.items() if k != "affected_buckets"},
                slice_marker=slice_marker,
                mark_epoch=mark_epoch,
                slice_files=slice_files,
                aux_add=aux_add,
                expected_n_buckets=n_buckets,
            )
        except CommitConflict:
            # a rebucket raced in — the written files are keyed by the
            # old bucket function; re-bucket and re-write from fresh state
            snap = table.snapshot()
            if IceliteTable._already_committed(snap, epoch, slice_marker):
                return _skip_stats(table, snap, epoch, slice_marker, mark_epoch)
            if table.n_buckets(snap) == n_buckets:
                # not a rebucket: commit_deltas already exhausted its own
                # CAS retries for an unrelated conflict — re-bucketing and
                # fully re-writing the epoch's delta files under the SAME
                # bucket count cannot help (round-6 ADVICE low); surface
                # the conflict instead
                raise
            continue
        return stats
    raise CommitConflict(f"epoch {epoch}: delta apply lost 8 rebucket races")
