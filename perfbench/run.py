"""CDC ingest benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py and BENCHMARK.json): trickle_rw,
dedup_ingest, operator_queries. The run generates its
inputs from ``--seed``, sets up, measures for about ``--seconds``,
checks every output against the DuckDB oracles, and prints as its last
stdout line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1``. The lines before it carry the
workload's own figures (apply_events_per_s, freshness_s, lookup_s,
scan_s, queries_s, ops_failed_frac) with their sample counts, and a
host-noise canary reading that is never gated.

A traced run patches each layer's public functions with spans, turns on
the Spark event log, and after the run attributes every Spark task to a
span.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import harness
from workloads import WORKLOADS


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, harness.ROOT)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    run = harness.Run(args.seed, args.seconds, tracer)
    canary = harness.canary_s()
    try:
        if tracer is not None:
            import layers

            layers.install(tracer)
        try:
            WORKLOADS[args.workload](run)
        finally:
            if tracer is not None:
                tracer.unpatch()
            run.stop_session()
        if tracer is not None:
            from tracing import parse_event_log

            metrics = layers.compute(run, tracer, parse_event_log(run.path("events")))
            units = {name: layers.unit(name) for name in metrics}
        else:
            metrics = run.metrics
            units = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}
    finally:
        run.cleanup()

    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"workload={args.workload} seed={args.seed} cores={run.cores} canary_s={canary:.4f}")
    for name, value in sorted(run.report.items()):
        print(f"  {name}: {json.dumps(value)}")
    if tracer is not None:
        for name in sorted(metrics):
            print(f"  layer {name} = {metrics[name]:.6g} {units[name]} -> {layers.TARGETS[name][1]}")
    print(f"  run_wall_s: {time.perf_counter() - run.born:.2f}")
    print(f"  ops_failed_frac: {run.failed / max(1, run.attempted)} (of {run.attempted} ops)")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(1, run.attempted),
                "failed": run.failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())
                },
            }
        )
    )
    return 0


def _bench_spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
