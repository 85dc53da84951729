"""CLI entrypoint — the reference's `cmd/es-ch-sync/main.go` surface.

Config mirrors internal/config/settings.go:4-22 exactly (env vars, with CLI
flags overriding): START_TIME / STOP_TIME (RFC3339), TOKEN_IDS (messy csv
ok), SIGNALS (csv), plus source/dim/output paths.  BATCH_SIZE and PARALLEL
have no equivalents: Spark split sizing and task scheduling replace them
(SURVEY.md §4) — accepted and ignored with a note, so existing launch
configs keep working.

Run:
    python -m es_ch_sync_spark.job.main \
        --source /data/status --dim /data/device --out /data/signal \
        [--start 2024-01-01T00:00:00Z] [--stop ...] [--tokens 1,2,3] \
        [--signals speed,make] [--streaming]
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import datetime, timezone


def _parse_time(s: str | None) -> datetime | None:
    if not s:
        return None
    return datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(timezone.utc)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="es_ch_sync_spark sync job")
    p.add_argument("--source", required=True, help="status-doc table path (parquet or json)")
    p.add_argument(
        "--source-format",
        default="auto",
        choices=["auto", "parquet", "json", "es-export", "es_status"],
        help="source reader; es-export and es_status (same reader) = an ES "
        "hit export (NDJSON, document under _source), parsed once by the "
        "JVM JSON scan over the files the es_status connector plans for the "
        "window (_ES_COMMIT stats prune the rest); malformed lines go to "
        "the <quarantine>_es side output",
    )
    p.add_argument("--dim", default=None, help="device dimension path (subject,token_id)")
    p.add_argument("--out", required=True, help="signal table output path")
    p.add_argument(
        "--out-format",
        default="parquet",
        choices=["parquet", "txlog"],
        help="parquet = date-partitioned layout (default); txlog = the "
        "transaction-log table (atomic commit, snapshot isolation, time "
        "travel; streaming mode commits each micro-batch exactly-once)",
    )
    p.add_argument("--quarantine", default=None, help="side-output path for bad records")
    p.add_argument("--start", default=os.environ.get("START_TIME"), help="RFC3339; default stop-30d")
    p.add_argument("--stop", default=os.environ.get("STOP_TIME"), help="RFC3339; default now")
    p.add_argument("--tokens", default=os.environ.get("TOKEN_IDS", ""), help="csv token ids")
    p.add_argument("--signals", default=os.environ.get("SIGNALS", ""), help="csv signal names")
    p.add_argument("--batch-size", default=os.environ.get("BATCH_SIZE"), help="ignored (Spark split sizing)")
    p.add_argument("--parallel", default=os.environ.get("PARALLEL"), help="ignored (Spark task scheduling)")
    p.add_argument("--streaming", action="store_true", help="run as AvailableNow stream (cron mode)")
    p.add_argument("--checkpoint", default=None, help="stream checkpoint dir (required with --streaming)")
    p.add_argument("--catalog", default=None, help="signal-definitions YAML (default: built-in 18-signal catalog)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.batch_size or args.parallel:
        print("note: BATCH_SIZE/PARALLEL are handled by Spark (split sizing / scheduling); ignored",
              file=sys.stderr)

    from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG, SignalCatalog
    from es_ch_sync_spark.fixtures import DEVICE_STATUS_SCHEMA
    from es_ch_sync_spark.job.sync import SyncOptions, plan_sync
    from es_ch_sync_spark.session import get_spark

    catalog = (
        SignalCatalog.from_yaml_file(args.catalog) if args.catalog else DEVICE_STATUS_CATALOG
    )
    spark = get_spark("es_ch_sync_spark-job")
    opts = SyncOptions(
        start_time=_parse_time(args.start),
        stop_time=_parse_time(args.stop),
        token_ids=SyncOptions.parse_token_ids(args.tokens),
        signals=[s.strip() for s in args.signals.split(",") if s.strip()],
    )
    dim = None
    if args.dim:
        if args.dim.endswith((".jsonl", ".json", ".ndjson")):
            # device-service dump (subjects.jsonl) → broadcast dim, with
            # malformed-line quarantine (deviceapi/service.go:52-105 parity)
            from es_ch_sync_spark.io.sources import read_device_dim

            dim, dim_quarantine = read_device_dim(spark, args.dim)
            if args.quarantine:
                dim_quarantine.write.mode("append").parquet(args.quarantine + "_dim")
        else:
            dim = spark.read.parquet(args.dim)

    if args.streaming:
        if not args.checkpoint:
            print("--checkpoint required with --streaming", file=sys.stderr)
            return 2
        from es_ch_sync_spark.streaming.sync_stream import (
            build_signal_stream,
            read_status_stream,
            start_signal_sink,
        )

        stream = read_status_stream(spark, args.source, DEVICE_STATUS_SCHEMA)
        signals = build_signal_stream(
            stream, catalog.filtered(opts.signals or None), dim
        )
        if args.out_format == "txlog":
            from es_ch_sync_spark.io.txlog import txlog_stream_writer

            q = (
                signals.writeStream.foreachBatch(txlog_stream_writer(args.out))
                .option("checkpointLocation", args.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
        else:
            q = start_signal_sink(signals, args.out, args.checkpoint, available_now=True)
        q.awaitTermination()
        return 0

    # A text source is parsed once: `parsed` is persisted for the run when
    # more than one output reads it (the signals and the quarantines), and
    # released before main returns.  split_quarantine caches a frame that
    # still carries the corrupt-record column itself; persisting that frame
    # here first makes its cache this one.
    parsed = es_quarantine = None
    if args.source_format in ("es_status", "es-export") or (
        args.source_format == "auto"
        and (args.source.endswith(".ndjson") or args.source.endswith("/es-export"))
    ):
        # ES hit exports: the JVM JSON scan over exactly the files the
        # es_status connector would plan for [start, stop) — listing, then
        # _ES_COMMIT stats pruning, computed on the driver — so no Python
        # planner or worker runs.  Malformed lines go to the `_es` quarantine.
        from pyspark.sql import types as T

        from es_ch_sync_spark.io.es_datasource import DEFAULT_STATUS_DDL, export_files
        from es_ch_sync_spark.io.sources import read_es_hits, split_es_hits

        source_schema = T.StructType(
            [
                f
                for f in T.StructType.fromDDL(DEFAULT_STATUS_DDL).fields
                if f.name not in ("es_id", "es_index")
            ]
        )
        parsed = read_es_hits(
            spark, export_files(args.source, *opts.resolved_window()), source_schema
        )
        status, es_quarantine = split_es_hits(parsed)
        status = status.drop("es_id", "es_index")
        if not args.quarantine:
            parsed = None  # one reader: nothing to share
    elif args.source_format == "json" or (
        args.source_format == "auto"
        and (args.source.endswith(".json") or args.source.endswith("/json"))
    ):
        from es_ch_sync_spark.io.sources import read_status_json

        status = parsed = read_status_json(spark, args.source, DEVICE_STATUS_SCHEMA)
    else:
        status = spark.read.parquet(args.source)

    if parsed is not None:
        parsed.persist()
    try:
        signals, quarantine = plan_sync(status, catalog, dim, opts)
        if args.out_format == "txlog":
            from es_ch_sync_spark.io.sinks import dedup_signals
            from es_ch_sync_spark.io.txlog import txlog_append
            from es_ch_sync_spark.job.metrics import observe_signals

            out, obs = observe_signals(dedup_signals(signals))
            txlog_append(out, args.out)
            written = obs.get
        else:
            from es_ch_sync_spark.io.sinks import write_signals

            written = write_signals(signals, args.out)
        if args.quarantine:
            quarantine.write.mode("append").parquet(args.quarantine)
            if es_quarantine is not None:
                es_quarantine.write.mode("append").parquet(args.quarantine + "_es")
    finally:
        if parsed is not None:
            parsed.unpersist()
    print(f"synced: {written['n_signals']} signal rows at {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
