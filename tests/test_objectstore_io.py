"""The manifest-I/O seam really is the only storage coupling: run the
full table protocol (create → delta commits → compact → time travel →
redelivery skip → CAS conflict) against a NON-POSIX manifest
backend — an in-memory key-value store with conditional-put commit
semantics, i.e. the contract an S3/GCS/catalog deployment implements
(If-Match PUT of the pointer). Data files still flow through Spark's
filesystem writers, exactly as they would on a cluster (the catalog
holds manifests; the object store holds parquet).

Everything above LocalManifestIO (snapshot structure, commit protocol,
epoch markers, slices, epoch_files, expiry) must work unchanged.
"""

import os
import threading

import pytest

from conftest import make_events
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.icelite import CommitConflict, IceliteTable
from crba_etl_spark.schema import TRANSCRIPT


class KVManifestIO:
    """Dict-backed manifest store with a conditional pointer swap — the
    object-store/catalog shape of the LocalManifestIO contract. No
    filesystem paths anywhere; 'durability' is the dict assignment."""

    def __init__(self):
        self._objects: dict[str, dict] = {}
        self._current: str | None = None
        self._lock = threading.Lock()
        self.conditional_puts = 0

    # --- pointer ---------------------------------------------------------
    def read_current(self):
        return self._current

    def swap_current(self, name: str) -> None:
        self._current = name

    def commit_atomic(self, name, snap, expected_current) -> None:
        with self._lock:  # the catalog's CAS
            self.conditional_puts += 1
            if expected_current is not None and self._current != expected_current:
                raise CommitConflict(
                    f"CURRENT moved: based on {expected_current}, found {self._current}"
                )
            self._objects[name] = snap
            self._current = name

    # --- manifests -------------------------------------------------------
    def write_manifest(self, name, snap) -> None:
        self._objects[name] = snap

    def read_manifest(self, name):
        return self._objects[name]

    def list_manifests(self):
        return sorted(self._objects)

    def delete_manifest(self, name) -> None:
        del self._objects[name]


def test_full_protocol_on_kv_manifest_backend(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    io = KVManifestIO()
    table = IceliteTable.create(root, TRANSCRIPT, n_buckets=4, io=io)
    # nothing was written to the local snapshots dir — manifests live in
    # the KV store only
    assert os.listdir(os.path.join(root, "snapshots")) == []
    assert io.read_current() == "snapshot-000000.json"

    from crba_etl_spark.operators.dedup import reduce_batch
    from crba_etl_spark.operators.merge import apply_delta_epoch

    def apply(epoch, rows):
        return apply_delta_epoch(
            spark, table, reduce_batch(make_events(spark, rows)), epoch
        )

    apply(0, [
        (1, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
        (2, 0, "I", "c2", 0, "user", "hi", None, 0, 1),
    ])
    apply(1, [(3, 1, "U", "c1", 0, "user", "hello v2", None, 0, 2)])
    apply(2, [(4, 2, "D", "c2", 0, None, None, None, 0, 3)])

    got = {(r.conv_id, r.turn_idx): r.text for r in table.read(spark).collect()}
    assert got == {("c1", 0): "hello v2"}
    assert table.committed_epochs() == {0, 1, 2}

    # redelivery of a committed epoch is a no-op through the KV markers
    st = apply(1, [(3, 1, "U", "c1", 0, "user", "hello v2", None, 0, 2)])
    assert st["skipped"]

    # compaction + time travel work over KV manifests
    v_before = table.snapshot()["version"]
    table.compact(spark, drop_tombstones=True)
    assert {(r.conv_id, r.turn_idx) for r in table.read(spark).collect()} == {("c1", 0)}
    old = table.read(spark, version=v_before)
    assert {(r.conv_id, r.turn_idx): r.text for r in old.collect()} == {
        ("c1", 0): "hello v2"
    }

    # snapshot expiry deletes KV manifests + unreferenced data dirs
    table.expire_snapshots(keep_last=1)
    assert io.list_manifests() == [io.read_current()]
    assert {(r.conv_id, r.turn_idx) for r in table.read(spark).collect()} == {("c1", 0)}

    # every commit went through the conditional put
    assert io.conditional_puts >= 5


def test_kv_backend_detects_concurrent_commit(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    io = KVManifestIO()
    a = IceliteTable.create(root, TRANSCRIPT, n_buckets=4, io=io)
    b = IceliteTable(root, io=io)  # second writer, same catalog

    files_a = {0: ["data/eA-v1/__bucket=0/f.parquet"]}
    files_b = {1: ["data/eB-v1/__bucket=1/f.parquet"]}
    orig = io.commit_atomic
    fired = {"n": 0}

    def hostile(name, snap, expected_current):
        if fired["n"] == 0:
            fired["n"] += 1
            b.commit_deltas(epoch=2, new_bucket_files=files_b, schema=b.schema(), stats={})
        return orig(name, snap, expected_current)

    io.commit_atomic = hostile
    a.commit_deltas(epoch=1, new_bucket_files=files_a, schema=a.schema(), stats={})
    snap = a.snapshot()
    assert set(snap["committed_epochs"]) == {1, 2}
    assert snap["deltas"]["0"] == files_a[0] and snap["deltas"]["1"] == files_b[1]
