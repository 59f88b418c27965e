"""CLI: python -m healthcare_data_lakehouse_using_gcp_spark <cmd>

Replaces the reference's operational scripts (start_ingestion.py,
dataflow/deploy_pipelines.py, dbt invocations, DAG tasks) with one
entrypoint over a local/remote warehouse.

Commands:
  generate  --out DIR --count N [--seed S]     write synthetic JSON messages
  etl       --raw DIR --warehouse DIR          batch ETL raw → processed
  models    --warehouse DIR                    staging views + fact/dim tables
  reports   --warehouse DIR                    the six monitoring reports
  stream    --raw DIR --warehouse DIR [--seconds N]   streaming ETL
  demo-stream  --warehouse DIR [--seconds N] [--rate R]   timed mixed-mode
               publisher (60/20/10 envelope mix) → streaming ETL, no
               input files needed — the reference's continuous-demo loop
  all       --raw DIR --warehouse DIR          etl + models + reports
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="healthcare_data_lakehouse_using_gcp_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--count", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)

    for name in ("etl", "models", "reports", "all", "stream", "demo-stream"):
        s = sub.add_parser(name)
        if name in ("etl", "all", "stream"):
            s.add_argument("--raw", required=True)
        if name in ("etl", "all"):
            s.add_argument(
                "--txn-id", default=None,
                help="exactly-once zone writes via SnapshotTable: re-running "
                "the same batch with the same token converges instead of "
                "duplicating (e.g. --txn-id load-2024-06-01)",
            )
            s.add_argument(
                "--plain-append", action="store_true",
                help="write entity zones as plain date-partitioned parquet "
                "appends (reference-parity layout) instead of the default "
                "SnapshotTable manifests (atomic commits, time travel, "
                "manifest file pruning; r10 default per ROADMAP item 3). "
                "Incompatible with --txn-id",
            )
        if name == "demo-stream":
            s.add_argument("--seconds", type=int, default=30)
            s.add_argument("--rate", type=int, default=1, help="publisher ticks/second")
            s.add_argument("--upsert", action="store_true")
        s.add_argument("--warehouse", required=True)
        if name == "stream":
            s.add_argument("--seconds", type=int, default=30)
            zone_mode = s.add_mutually_exclusive_group()
            zone_mode.add_argument(
                "--upsert", action="store_true",
                help="idempotent merge sink (replayed micro-batches converge)",
            )
            zone_mode.add_argument(
                "--snapshot", action="store_true",
                help="exactly-once keyless zone sink (SnapshotTable commits "
                "keyed on micro-batch id; kill-and-replay converges)",
            )
        if name in ("models", "all"):
            s.add_argument(
                "--fact-optimized", action="store_true",
                help="vitals-grain fact plan rewrite (struct-MIN as-of, no window sorts)",
            )
        s.add_argument("--as-of", default=None, help="freeze 'now' (ISO) for deterministic runs")

    args = p.parse_args(argv)

    # the help text documents the incompatibility — surface it as a
    # clean exit-code-2 usage error, not run_etl's ValueError traceback
    if getattr(args, "txn_id", None) and getattr(args, "plain_append", False):
        p.error("--txn-id requires snapshot mode; drop --plain-append")

    if args.cmd == "generate":
        from .sources.generator import HealthcareDataGenerator

        os.makedirs(args.out, exist_ok=True)
        gen = HealthcareDataGenerator(seed=args.seed)
        msgs = gen.generate_messages(args.count)
        path = os.path.join(args.out, f"messages_{args.seed}.json")
        with open(path, "w") as f:
            f.write("\n".join(msgs))
        print(json.dumps({"written": len(msgs), "path": path}))
        return 0

    from .config import EngineConfig
    from .lakehouse import HealthcareLakehouse
    from .session import get_spark

    cfg = EngineConfig(
        as_of=dt.datetime.fromisoformat(args.as_of) if getattr(args, "as_of", None) else None,
        fact_optimized=bool(getattr(args, "fact_optimized", False)),
    )
    spark = get_spark(app_name=f"lakehouse-{args.cmd}")
    lh = HealthcareLakehouse(spark, args.warehouse, cfg)

    if args.cmd == "etl":
        print(
            json.dumps(
                {
                    "etl_counts": lh.run_etl(
                        args.raw,
                        txn_id=args.txn_id,
                        snapshot=not args.plain_append,
                    )
                }
            )
        )
    elif args.cmd == "models":
        out = lh.run_models()
        print(json.dumps({name: df.count() for name, df in out.items()}))
    elif args.cmd == "reports":
        out = lh.run_reports()
        print(json.dumps({k: str(v) for k, v in out.items()}))
    elif args.cmd == "all":
        out = lh.run_all(
            args.raw, txn_id=args.txn_id, snapshot=not args.plain_append
        )
        print(json.dumps({k: str(v) for k, v in out.items()}))
    elif args.cmd == "stream":
        from .streaming.pipeline import start_etl_stream

        q = start_etl_stream(
            spark, args.raw, args.warehouse, cfg, trigger_seconds=5,
            mode="upsert" if args.upsert else "snapshot" if args.snapshot else "append",
        )
        deadline = time.time() + args.seconds
        while time.time() < deadline and q.isActive:
            time.sleep(1)
        q.stop()
        q.awaitTermination(30)
        print(json.dumps({"stopped_after_s": args.seconds}))
    elif args.cmd == "demo-stream":
        from .streaming.pipeline import make_etl_sink
        from .streaming.rate_source import mixed_mode_stream

        msgs = mixed_mode_stream(spark, rows_per_second=args.rate)
        q = (
            msgs.writeStream.foreachBatch(
                make_etl_sink(args.warehouse, cfg, mode="upsert" if args.upsert else "append")
            )
            .trigger(processingTime="5 seconds")
            .option(
                "checkpointLocation",
                os.path.join(args.warehouse, "_checkpoints", "demo"),
            )
            .start()
        )
        deadline = time.time() + args.seconds
        while time.time() < deadline and q.isActive:
            time.sleep(1)
        q.stop()
        q.awaitTermination(30)
        counts = {}
        for e in ("vitals", "claims", "ehr"):
            p = os.path.join(args.warehouse, "processed", e)
            try:
                counts[e] = spark.read.parquet(p).count()
            except Exception:
                counts[e] = 0
        print(json.dumps({"stopped_after_s": args.seconds, "processed": counts}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
