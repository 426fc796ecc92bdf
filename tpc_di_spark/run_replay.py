"""spark-submit entry point: replay change-event batches into a lake table.

Usage (the deployment shape from the north_rule — works unchanged on a
real cluster by swapping --master and paths):

  spark-submit --py-files tpc_di_spark.zip -m tpc_di_spark.run_replay ...
  # or
  spark-submit --py-files tpc_di_spark.zip run_replay.py \\
      --table-dir /lake/transcripts \\
      --events 'batch1=/in/batch1/*.parquet' 'batch2=/in/batch2/*.parquet' \\
      --mode cow --num-buckets 1024

Each --events entry is ``<batch_id>=<parquet glob>`` (batch ids are
integers; order of application = sorted ids). Already-committed batches
are skipped (exactly-once), killed runs resume from checkpoint manifests.
``--demo N`` generates N synthetic events instead of reading files.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table-dir", required=True)
    p.add_argument("--events", nargs="*", default=[], metavar="ID=GLOB")
    p.add_argument("--demo", type=int, default=0, help="generate N synthetic events (3 batches)")
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p.add_argument("--compact", action="store_true", help="compact pending MoR deltas at the end")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--buckets-per-group", type=int, default=64)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument(
        "--late-events",
        nargs="*",
        default=[],
        metavar="ID=GLOB",
        help="MISSED batches redelivered out of order: applied after the "
        "--events batches via apply_late_batch (events whose key a "
        "higher-numbered batch changed are superseded — dropped and "
        "counted, the rest merge; final state = serial batch-id order)",
    )
    p.add_argument(
        "--quarantine-dir",
        default=None,
        help="where --late-events' superseded events are written for audit "
        "(<dir>/batch-NNNNNN parquet); omitted = counted only",
    )
    p.add_argument(
        "--wap",
        action="store_true",
        help="write-audit-publish: stage each batch on a branch ref, audit "
        "(business-key uniqueness, non-null keys, monotone live count), "
        "publish only on pass; a failing batch aborts without touching "
        "readers (lake/wap.py)",
    )
    args = p.parse_args(argv)
    if args.wap and args.mode == "mor":
        # Match start_cdc_stream's explicit ValueError: silently ignoring
        # a safety flag would surprise exactly the user who asked for it
        # (MoR deltas are raw appends — nothing new to audit until the
        # read-time fold / compaction).
        p.error("--wap requires --mode cow (MoR deltas cannot be audited "
                "pre-publish; audit at compaction instead)")
    if args.late_events and args.mode == "mor":
        # apply_late_batch would raise on the pending deltas anyway; fail
        # the flag combination up front like --wap does.
        p.error("--late-events requires --mode cow (pending MoR deltas "
                "hide touched keys from the supersession check; compact "
                "first)")

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from tpc_di_spark.session import get_spark

    spark = get_spark(app_name="cdc-replay", cores=args.cores)
    table = bootstrap_table(
        spark, args.table_dir, TRANSCRIPT_SCHEMA, num_buckets=args.num_buckets
    )
    orch = CdcOrchestrator(table, buckets_per_group=args.buckets_per_group)

    batches = []
    if args.demo:
        from tpc_di_spark.cdc.generator import historical_batch, incremental_batch

        n = args.demo
        convs = max(n // 100, 10)
        batches = [
            (1, historical_batch(spark, convs, 10)),
            (2, incremental_batch(spark, 2, n, convs, 10, skew=2.0)),
            (3, incremental_batch(spark, 3, n, convs, 10, skew=2.0, with_tool=True)),
        ]
    for spec in args.events:
        bid, glob = spec.split("=", 1)
        batches.append((int(bid), spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(glob)))
    batches.sort(key=lambda x: x[0])

    for bid, df in batches:
        if args.wap and args.mode == "cow":
            from tpc_di_spark.lake.wap import (
                AuditFailed,
                WapBranch,
                not_null,
                unique_business_key,
            )

            wap = WapBranch.begin(table, f"batch-{bid}")
            rec = orch.for_table(wap.staged).apply_batch(df, bid)
            try:
                audit = wap.audit(
                    [unique_business_key(), not_null(table.key_cols)]
                )
                wap.publish()
                rec["wap"] = {"published": True, "audit": audit}
            except AuditFailed as e:
                wap.abort()
                rec["wap"] = {"published": False, "audit": e.results}
            table.refresh()
        elif args.mode == "mor":
            rec = apply_batch_mor(orch, df, bid)
        else:
            rec = orch.apply_batch(df, bid)
        print(json.dumps(rec))
    late = sorted(
        (int(s.split("=", 1)[0]), s.split("=", 1)[1]) for s in args.late_events
    )
    for bid, glob in late:
        df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(glob)
        rec = orch.apply_late_batch(df, bid, quarantine_dir=args.quarantine_dir)
        print(json.dumps(rec))
    if args.compact:
        print(json.dumps({"compaction": compact_deltas(orch)}))
    print(
        json.dumps(
            {
                "snapshot_id": table.refresh().snapshot.snapshot_id,
                "rows": table.read().count(),
                "history": table.history(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
