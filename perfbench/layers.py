"""Per-layer metrics of a traced run.

``install`` patches each layer's public functions with spans;
``compute`` turns the spans, the counts the wrappers and workloads
recorded, and the parsed Spark event log into the ``per_layer`` metrics
of BENCHMARK.json. A traced run reports every metric below on every
workload; a layer the workload never calls reads 0.

``TARGETS`` records, for each layer metric, the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import os
import statistics

from tracing import spark_totals, stage_skew
from workloads import HEADLINE

# layer -> span names whose Spark tasks count as that layer's own
SPARK_LAYERS = {
    "engine": ("engine.apply_epoch", "engine.compact", "merge.apply_delta_epoch"),
    "icelite_write": ("icelite.write_merged", "icelite.commit_deltas"),
    "icelite_read": ("icelite.read", "icelite.compact"),
    "band_index": (
        "band_index.rows_for",
        "band_index.write_epoch",
        "band_index.delta_for_epoch",
    ),
    "queries": None,  # every span named queries.*
}
SPARK_KEYS = (
    ("task_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("busy_frac", "ratio"),
)
E2E = (
    "setup_s",
    "throughput_per_s",
    "latency_s_p50",
    "read_s_p50",
    "table_bytes",
    "peak_rss_mb",
)

_FRESH = "latency_s_p50 on trickle_rw"
_APPLY = "throughput_per_s on trickle_rw and dedup_ingest"
_READS = "read_s_p50 on trickle_rw"
TARGETS: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "setup_s on every workload"),
    "engine.apply_epoch_s": ("s", f"{_FRESH}; {_APPLY}"),
    "engine.apply_epoch_self_s": ("s", f"{_FRESH}; {_APPLY}"),
    "engine.epochs_applied": ("count", f"{_FRESH}; {_READS}"),
    "engine.compactions": ("count", f"{_FRESH}; {_READS}"),
    "dedup.keys_per_event": ("ratio", _APPLY),
    "dedup.shuffle_write_bytes": ("bytes", _APPLY),
    "dedup.task_skew": ("ratio", _APPLY),
    "merge.apply_delta_epoch_s": ("s", _APPLY),
    "icelite.write_merged_s": ("s", _APPLY),
    "icelite.files_written": ("count", f"{_APPLY}; table_bytes on trickle_rw"),
    "icelite.bytes_written": ("bytes", f"{_APPLY}; table_bytes on trickle_rw"),
    "icelite.commit_deltas_s": ("s", _FRESH),
    "icelite.manifest_reads_per_epoch": ("count", _FRESH),
    "icelite.manifest_bytes": ("bytes", _FRESH),
    "icelite.compact_s": ("s", _FRESH),
    "icelite.read_s": ("s", _READS),
    "icelite.delta_files_per_read": ("count", _READS),
    "icelite.max_deltas_per_bucket_at_read": ("count", _READS),
    "metrics.write_epoch_metrics_s": ("s", _FRESH),
    "tail.trigger_s": ("s", _FRESH),
    "tail.latest_offset_s": ("s", _FRESH),
    "tail.add_batch_s": ("s", _FRESH),
    "tail.epochs_per_batch": ("count", _FRESH),
    "tail.restart_s": ("s", _FRESH),
    "trickle.publish_lateness_s_max": ("s", "none: publisher health, 0 when on time"),
    "trickle.scan_s_p50": ("s", _READS),
    "band_index.rows_for_s": ("s", "throughput_per_s on dedup_ingest"),
    "band_index.write_epoch_s": ("s", "throughput_per_s on dedup_ingest"),
    "band_index.delta_for_epoch_s": ("s", "throughput_per_s on dedup_ingest"),
    "band_index.band_rows": ("count", "throughput_per_s on dedup_ingest"),
    "band_index.label_rows": ("count", "throughput_per_s on dedup_ingest"),
    **{
        f"queries.{q}_s": ("s", "latency_s_p50 on operator_queries")
        for q in HEADLINE
    },
    **{
        f"spark.{layer}.{k}": (unit, "the end-to-end metric of the layer's own entry")
        for layer in SPARK_LAYERS
        for k, unit in SPARK_KEYS
    },
    **{f"traced.{m}": ("as_e2e", f"tracing overhead vs untraced {m}") for m in E2E},
}


def install(tracer) -> None:
    from crba_etl_spark import engine
    from crba_etl_spark.band_index import DedupLabels, LshBandIndex
    from crba_etl_spark.icelite import IceliteTable

    def epoch_stats(out, args, kwargs):
        if out and not out.get("skipped"):
            tracer.count("engine.epochs_applied")
            tracer.count("dedup.events_in", out.get("events_in", 0))
            tracer.count("dedup.keys_out", out.get("keys_in_batch", out.get("rows_out", 0)))

    def written(out, args, kwargs):
        root = args[0].root
        files = [f for fl in out.values() for f in fl]
        tracer.count("icelite.files_written", len(files))
        tracer.count(
            "icelite.bytes_written",
            sum(os.path.getsize(os.path.join(root, f)) for f in files),
        )

    tracer.wrap(engine.CDCEngine, "apply_epoch", "engine.apply_epoch", epoch_stats)
    tracer.wrap(engine.CDCEngine, "compact", "engine.compact")
    tracer.wrap(engine, "apply_delta_epoch", "merge.apply_delta_epoch")
    tracer.wrap(engine, "write_epoch_metrics", "metrics.write_epoch_metrics")
    tracer.wrap(IceliteTable, "write_merged", "icelite.write_merged", written)
    tracer.wrap(IceliteTable, "commit_deltas", "icelite.commit_deltas")
    tracer.wrap(IceliteTable, "compact", "icelite.compact")
    tracer.wrap_count(IceliteTable, "snapshot", "icelite.snapshot_calls")
    tracer.wrap(LshBandIndex, "rows_for", "band_index.rows_for")
    tracer.wrap(LshBandIndex, "write_epoch", "band_index.write_epoch")
    tracer.wrap(DedupLabels, "delta_for_epoch", "band_index.delta_for_epoch")


def compute(run, tracer, tasks: dict[str, list[dict]]) -> dict[str, float]:
    """Every per-layer metric from one traced run."""
    out = {name: 0.0 for name in TARGETS if not name.startswith("traced.")}
    selft = tracer.self_times()
    c = tracer.counts

    def mean(name: str) -> float:
        d = tracer.durations(name)
        return statistics.mean(d) if d else 0.0

    for name in (
        "engine.apply_epoch",
        "merge.apply_delta_epoch",
        "icelite.write_merged",
        "icelite.commit_deltas",
        "icelite.compact",
        "icelite.read",
        "metrics.write_epoch_metrics",
        "band_index.rows_for",
        "band_index.write_epoch",
        "band_index.delta_for_epoch",
    ):
        out[f"{name}_s"] = mean(name)
    for q in HEADLINE:
        out[f"queries.{q}_s"] = mean(f"queries.{q}")
    apply_ids = [s["id"] for s in tracer.spans if s["name"] == "engine.apply_epoch"]
    if apply_ids:
        out["engine.apply_epoch_self_s"] = statistics.mean(selft[i] for i in apply_ids)
    epochs = c["engine.epochs_applied"]
    out["engine.epochs_applied"] = epochs
    out["engine.compactions"] = float(len(tracer.durations("icelite.compact")))
    if c["dedup.events_in"]:
        out["dedup.keys_per_event"] = c["dedup.keys_out"] / c["dedup.events_in"]
    under_apply = tracer.descendants({"engine.apply_epoch"})
    apply_tasks = [t for sid in under_apply for t in tasks.get(f"span-{sid}", [])]
    if epochs:
        out["dedup.shuffle_write_bytes"] = (
            sum(t["shuffle_write"] for t in apply_tasks) / epochs
        )
        out["icelite.manifest_reads_per_epoch"] = c["icelite.snapshot_calls"] / epochs
    out["dedup.task_skew"] = stage_skew(apply_tasks)
    out["icelite.files_written"] = c["icelite.files_written"]
    out["icelite.bytes_written"] = c["icelite.bytes_written"]
    if c["read.calls"]:
        out["icelite.delta_files_per_read"] = c["read.delta_files"] / c["read.calls"]

    for layer, names in SPARK_LAYERS.items():
        ids = [
            s["id"]
            for s in tracer.spans
            if (s["name"] in names if names else s["name"].startswith(f"{layer}."))
        ]
        lt = [t for sid in ids for t in tasks.get(f"span-{sid}", [])]
        wall = sum(selft[i] for i in ids)
        for k, v in spark_totals(lt, wall, run.cores).items():
            out[f"spark.{layer}.{k}"] = v

    for name, value in run.layer.items():
        out[name] = float(value)
    for m in E2E:
        out[f"traced.{m}"] = run.metrics[m]
    return out


def unit(name: str) -> str:
    u = TARGETS[name][0]
    if u == "as_e2e":
        return {
            "setup_s": "s",
            "throughput_per_s": "1/s",
            "latency_s_p50": "s",
            "read_s_p50": "s",
            "table_bytes": "bytes",
            "peak_rss_mb": "MB",
        }[name.split(".", 1)[1]]
    return u
