"""Seeded input generation for the benchmark, run in its own process.

``run.py`` calls this script once per run, before anything is timed, so
the generator's memory never counts towards the engine's peak RSS and
the program under test receives only the files written here.

Usage: ``python3 perfbench/inputs.py '<json list of jobs>'`` where a job
is ``{"kind": "stream", "dir": ..., "spec": {StreamSpec fields}}`` or
``{"kind": "tables", "dir": ..., "seed": <int>, "scale": <float, default 1>}``.

A stream job also writes ``<dir>/_hot.json``: the conversation ids with
the most events, hottest first, which the benchmark's lookups target.
The tables job writes the seven parquet tables the headline query set
reads, with the schemas of the repo's TPC-H-ish test tables
(TESTDATA.md), sized as a share of their sf0.1 set.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# row counts of the sf0.1 test tables in TESTDATA.md (scale 1.0 here)
SF01_ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}
DIM = 64

_WORDS = (
    "a the data row key value table column stream batch spark query join "
    "filter group agg sort hash scan merge window part line order customer "
    "vector fast slow big small index commit epoch delta snapshot shard"
).split()
_DAY_US = 86_400 * 1_000_000
_T2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_T1992 = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out: str, seed: int, scale: float = 1.0) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = {k: max(25, int(v * scale)) for k, v in SF01_ROWS.items()}
    N_LINEITEM, N_ORDERS, N_CUSTOMER = n["lineitem"], n["orders"], n["customer"]
    N_EVENTS, N_USERS, N_DOCS, N_VECS = n["events"], n["users"], n["documents"], n["embeddings"]

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put(
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, N_CUSTOMER)]),
        },
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]),
            "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, N_ORDERS)),
            "o_orderdate": _ts(_T1992 + rng.integers(0, 3500, N_ORDERS) * _DAY_US),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, N_ORDERS)]),
        },
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM)),
            "l_partkey": pa.array(rng.integers(0, 20_000, N_LINEITEM)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, N_LINEITEM)),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(rng, 9.0, 2100.0, N_LINEITEM), 2)),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)]),
            "l_shipdate": _ts(_T1992 + rng.integers(0, 3600, N_LINEITEM) * _DAY_US),
        },
    )
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    put(
        "events",
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": _ts(_T2024 + np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
            "event_type": pa.array(etypes[rng.integers(0, 5, N_EVENTS)]),
            "value": pa.array(np.round(rng.lognormal(3.5, 0.8, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        },
    )
    # documents: random word texts, a tenth of them edited copies of an
    # earlier document so the MinHash-LSH query has near-duplicates to find
    words = np.array(_WORDS)
    texts = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), N_DOCS)]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.5, (N_VECS, DIM))).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        },
    )


def write_stream(out: str, spec: dict) -> None:
    from crba_etl_spark.gen import StreamSpec, generate_stream

    generate_stream(out, StreamSpec(**spec))
    conv = pa.chunked_array(
        pq.read_table(p, columns=["conv_id"]).column("conv_id").combine_chunks()
        for p in sorted(glob.glob(os.path.join(out, "epoch=*", "*.parquet")))
    )
    counts = pc.value_counts(conv).to_pylist()
    counts.sort(key=lambda d: (-d["counts"], d["values"]))
    with open(os.path.join(out, "_hot.json"), "w") as f:
        json.dump([d["values"] for d in counts[:32]], f)


def main(jobs: list[dict]) -> None:
    for job in jobs:
        if job["kind"] == "stream":
            write_stream(job["dir"], job["spec"])
        elif job["kind"] == "tables":
            write_tables(job["dir"], int(job["seed"]), float(job.get("scale", 1.0)))
        else:
            raise ValueError(f"unknown input job kind {job['kind']!r}")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main(json.loads(sys.argv[1]))
