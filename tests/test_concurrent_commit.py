"""Optimistic concurrency on the icelite commit path: a concurrent
writer moving CURRENT between a commit's snapshot read and its pointer
swap must surface as a CommitConflict + retry (Iceberg's commit loop) —
never as a silent lost update that drops the other writer's files."""

import os

import pytest

from crba_etl_spark.icelite import CommitConflict, IceliteTable
from crba_etl_spark.schema import TRANSCRIPT


def test_cas_rejects_stale_expected(tmpdir_):
    t = IceliteTable.create(os.path.join(tmpdir_, "t"), TRANSCRIPT, n_buckets=4)
    with pytest.raises(CommitConflict):
        t.io.commit_atomic(
            "snapshot-000001.json", t.snapshot(), expected_current="snapshot-000009.json"
        )
    # correct expectation passes
    snap = dict(t.snapshot(), version=1)
    t.io.commit_atomic("snapshot-000001.json", snap, "snapshot-000000.json")
    assert t.snapshot()["version"] == 1


def test_concurrent_delta_commits_lose_nothing(tmpdir_):
    root = os.path.join(tmpdir_, "t")
    a = IceliteTable.create(root, TRANSCRIPT, n_buckets=4)
    b = IceliteTable(root)
    files_a = {0: ["data/eA-v1/__bucket=0/f.parquet"]}
    files_b = {1: ["data/eB-v1/__bucket=1/f.parquet"]}

    # interleave: writer B commits BETWEEN A's snapshot read and A's
    # pointer swap (injected at A's first commit_atomic call)
    orig = a.io.commit_atomic
    fired = {"n": 0}

    def hostile(name, snap, expected_current):
        if fired["n"] == 0:
            fired["n"] += 1
            b.commit_deltas(
                epoch=2, new_bucket_files=files_b, schema=b.schema(), stats={}
            )
        return orig(name, snap, expected_current)

    a.io.commit_atomic = hostile
    a.commit_deltas(epoch=1, new_bucket_files=files_a, schema=a.schema(), stats={})

    snap = a.snapshot()
    assert fired["n"] == 1  # exactly one conflict was injected
    assert set(snap["committed_epochs"]) == {1, 2}
    assert snap["deltas"]["0"] == files_a[0]  # A's files present
    assert snap["deltas"]["1"] == files_b[1]  # B's files NOT clobbered
    # the losing first attempt must not have overwritten B's manifest:
    # version history is linear 0 -> 1 (B) -> 2 (A retry)
    assert snap["version"] == 2 and snap["parent"] == 1
