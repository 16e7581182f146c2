"""spark-submit entrypoint: ``python -m crba_etl_spark <cmd>``.

Mirrors the reference's ``python -m etl`` CLI
(``/root/reference/etl/__main__.py:1-3`` — argparse over edition/source
selection); here the unit of work is a replay/resume/compact/check over
an icelite table. Cluster use:

    spark-submit --py-files crba_etl_spark.zip -m ...   # or:
    spark-submit --py-files crba_etl_spark.zip run_cdc.py replay ...

where ``run_cdc.py`` just calls :func:`main`. In local mode plain
``python -m crba_etl_spark ...`` works as-is (the session builder
creates local[*]).

Commands:
    replay   --events DIR --table DIR [--n-buckets N]
             [--lsh-index] [--dedup-labels]   (maintained index artifacts)
    resume   --events DIR --table DIR          (skip committed epochs)
    stream   --events DIR --table DIR --checkpoint DIR   (readStream tail)
    compact  --table DIR [--drop-tombstones] [--rebuild-indexes]
    check    --table DIR [--report DIR]        (invariant suite → quality_report)
    metrics  --table DIR                       (print per-epoch apply stats)
    diff     --table DIR --from V [--to V] [--out DIR] [--show N]
             (time-travel diff of two snapshot versions: adds/drops/changes)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m crba_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p):
        p.add_argument("--table", required=True)
        p.add_argument("--n-buckets", type=int, default=32)
        p.add_argument("--quarantine", choices=["lazy", "eager", "off"], default="lazy")
        p.add_argument("--master", default=None)
        # maintained aux artifacts (band_index.py): opt-in, committed
        # atomically with each epoch
        p.add_argument("--lsh-index", action="store_true")
        p.add_argument("--dedup-labels", action="store_true")

    for name in ("replay", "resume", "stream"):
        p = sub.add_parser(name)
        common(p)
        p.add_argument("--events", required=True)
        if name == "stream":
            p.add_argument("--checkpoint", required=True)
            p.add_argument("--continuous", action="store_true")

    p = sub.add_parser("compact")
    common(p)
    p.add_argument("--drop-tombstones", action="store_true")
    p.add_argument("--rebuild-indexes", action="store_true")

    p = sub.add_parser("rebucket")
    common(p)
    p.add_argument("--to-buckets", type=int, required=True)
    # resumable mode: rewrite N old buckets per progress commit so a
    # crash resumes instead of restarting the O(table) rewrite
    p.add_argument("--chunk-old-buckets", type=int, default=None)

    p = sub.add_parser("check")
    p.add_argument("--html", help="also render the report as a data-docs HTML page")
    common(p)
    p.add_argument("--report", default=None)

    p = sub.add_parser("metrics")
    common(p)

    p = sub.add_parser("diff")
    common(p)
    p.add_argument("--from", dest="v_from", type=int, required=True)
    p.add_argument("--to", dest="v_to", type=int, default=None)
    p.add_argument("--out", default=None, help="write full diff rows as parquet")
    p.add_argument("--show", type=int, default=0, help="print first N diff rows")

    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name=f"crba-{args.cmd}", master=args.master)
    from .engine import CDCEngine

    quarantine = False if args.quarantine == "off" else args.quarantine
    engine = CDCEngine(
        spark,
        args.table,
        n_buckets=args.n_buckets,
        quarantine=quarantine,
        lsh_index=getattr(args, "lsh_index", False),
        dedup_labels=getattr(args, "dedup_labels", False),
    )

    if args.cmd in ("replay", "resume"):
        from .checkpoint import resume

        res = (
            engine.replay(args.events)
            if args.cmd == "replay"
            else resume(engine, args.events)
        )
        print(json.dumps({k: v for k, v in res.items() if k != "per_epoch"}))
    elif args.cmd == "stream":
        from .streaming.tail import stream_apply

        q = stream_apply(
            spark,
            engine,
            args.events,
            checkpoint_dir=args.checkpoint,
            available_now=not args.continuous,
        )
        q.awaitTermination()
        print(json.dumps({"committed_epochs": sorted(engine.table.committed_epochs())}))
    elif args.cmd == "compact":
        engine.compact(
            drop_tombstones=args.drop_tombstones,
            rebuild_indexes=args.rebuild_indexes,
        )
        print(json.dumps({"version": engine.table.snapshot()["version"]}))
    elif args.cmd == "rebucket":
        snap = engine.table.rebucket(
            spark, args.to_buckets, chunk_old_buckets=args.chunk_old_buckets
        )
        print(json.dumps({"version": snap["version"], "n_buckets": snap["n_buckets"]}))
    elif args.cmd == "check":
        from .checks import run_checks, write_report_html

        report = run_checks(spark, engine.table, report_dir=args.report)
        if args.html:
            write_report_html(report, args.html)
        print(json.dumps(report))
        return 0 if all(r["passed"] for r in report["checks"]) else 1
    elif args.cmd == "metrics":
        from .metrics import load_metrics

        load_metrics(spark, engine.metrics_dir).orderBy("epoch").show(100, False)
    elif args.cmd == "diff":
        from .operators.diff import diff_summary, snapshot_diff

        d = snapshot_diff(spark, engine.table, args.v_from, args.v_to)
        if args.out:
            d.write.mode("overwrite").parquet(args.out)
        if args.show:
            d.show(args.show, False)
        print(
            json.dumps(
                {
                    "from": args.v_from,
                    "to": args.v_to
                    if args.v_to is not None
                    else engine.table.snapshot()["version"],
                    **diff_summary(d),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
