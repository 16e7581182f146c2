"""Property-based test (Hypothesis): the full engine pipeline equals a
30-line Python reference model for ARBITRARY event sequences — random
keys, ops, duplicate LSNs, arbitrary epoch splits, arbitrary arrival
order. Catches edge interactions the fixture-driven tests can't
enumerate (e.g. duplicate LSN of a delete straddling an epoch boundary)."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import make_events
from crba_etl_spark.engine import CDCEngine

# one logical change: (lsn assigned later), op, conv 0-3, turn 0-2
_change = st.tuples(
    st.sampled_from(["I", "U", "D", "UPSERT"]),
    st.integers(0, 3),
    st.integers(0, 2),
)


def _python_oracle(events):
    """Reference semantics: max-LSN event per key wins; visible iff op != D."""
    best = {}
    for lsn, _epoch, op, cid, tix, role, text, tool, _ts, _ing in events:
        k = (cid, tix)
        if k not in best or lsn > best[k][0]:
            best[k] = (lsn, op, role, text, tool)
    return {
        k: (v[2], v[3], v[4]) for k, v in best.items() if v[1] != "D"
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    changes=st.lists(_change, min_size=1, max_size=40),
    n_epochs=st.integers(1, 3),
    dup_picks=st.lists(st.integers(0, 39), max_size=6),
    seed=st.randoms(use_true_random=False),
)
def test_engine_matches_python_model(spark, tmp_path_factory, changes, n_epochs, dup_picks, seed):
    rows = []
    for lsn, (op, conv, turn) in enumerate(changes, start=1):
        cid = f"c{conv}"
        is_del = op == "D"
        rows.append((
            lsn, 0, op, cid, turn,
            None if is_del else "user",
            None if is_del else f"{cid} t{turn} r{lsn}",
            None,
            None if is_del else turn * 60,
            lsn,
        ))
    # duplicate-LSN redeliveries (identical payloads)
    for p in dup_picks:
        if p < len(rows):
            rows.append(rows[p])
    seed.shuffle(rows)  # arbitrary arrival order
    # arbitrary epoch assignment preserving arrival split
    per = max(1, len(rows) // n_epochs)
    epoched = [
        tuple([r[0], min(i // per, n_epochs - 1), *r[2:]])
        for i, r in enumerate(rows)
    ]

    root = str(tmp_path_factory.mktemp("prop"))
    eng = CDCEngine(spark, os.path.join(root, "t"), n_buckets=2)
    for k in range(n_epochs):
        batch = [r for r in epoched if r[1] == k]
        if batch:
            eng.apply_epoch(make_events(spark, batch), k)

    got = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool)
        for r in eng.read_final().collect()
    }
    assert got == _python_oracle(epoched)
