"""Structured Streaming variant of the sync pipeline.

The reference runs as a one-shot k8s Job, optionally cron-scheduled weekly
(/root/reference/charts/es-ch-sync/templates/job.yaml:2,
charts/es-ch-sync/values.yaml:23-25), re-scanning from per-token resume
points.  Streaming subsumes that pattern: the SAME transform functions
run over ``readStream``, and each micro-batch lands through the batch
CLI's one merge, io/sinks.write_signals, under ``foreachBatch``:

- checkpointing        = the resume logic (sync.go:128-137), exactly-once
- write_signals' merge = ReplacingMergeTree semantics over the batch's own
  time range, the last write winning: a replay, a fresh checkpoint or a
  batch run over the same rows leaves the table equal to one run's output
- Trigger.AvailableNow = the cron/Job mode: drain everything new, exit.

The table is the only dedup state.  The cost is write amplification: a
micro-batch rewrites each partition (or txlog file) its range touches.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_ch_sync_spark.catalog import SignalCatalog
from es_ch_sync_spark.io.sinks import refuse_file_sink_log, write_signals
from es_ch_sync_spark.operators.dimjoin import resolve_tokens
from es_ch_sync_spark.operators.transform import castable_subjects, split_quarantine, unpivot_signals

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def read_status_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def build_signal_stream(
    status_stream: DataFrame,
    catalog: SignalCatalog,
    device_dim: DataFrame | None = None,
    subject_col: str = "subject",
    ts_col: str = "time",
    source_col: str = "source",
) -> DataFrame:
    """The batch transform over a stream.  The rows the batch CLI
    quarantines (malformed, unresolved, or without a dim a subject that is
    not an integer) and rows without a time are dropped; duplicates stay
    for write_signals' merge."""
    wide, _ = split_quarantine(status_stream)
    wide = wide.filter(F.col(ts_col).isNotNull())
    if device_dim is not None:
        # stream-static broadcast join: the dimension is re-read per
        # micro-batch (picks up new devices), never shuffles the stream
        wide, _ = resolve_tokens(wide, device_dim, subject_col=subject_col)
        token_col = "token_id"
    else:
        wide = wide.filter(castable_subjects(subject_col))
        token_col = subject_col
    signals = unpivot_signals(wide, catalog, token_col=token_col, ts_col=ts_col, source_col=source_col)
    # Sources may deliver TIMESTAMP_NTZ (the testdata parquet does); the
    # signal table's timestamp is TIMESTAMP.  The session TZ is pinned UTC
    # so the cast is wall-clock-preserving, and a no-op on LTZ input.
    return signals.withColumn("timestamp", F.col("timestamp").cast("timestamp"))


def merge_batch(out_path: str, out_format: str = "parquet"):
    """foreachBatch function: write_signals over the micro-batch's own
    window ``[min(timestamp), max(timestamp) + 1 µs)``.  The batch is
    persisted for the window's aggregate and the merge, and released
    after; an empty batch writes nothing."""

    def merge(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            # as epoch micros: a collected timestamp is naive local time
            lo, hi = batch.select(F.min(F.unix_micros("timestamp")), F.max(F.unix_micros("timestamp"))).first()
            if lo is not None:
                window = tuple(_EPOCH + timedelta(microseconds=m) for m in (lo, hi + 1))
                write_signals(batch, out_path, window, out_format)
        finally:
            batch.unpersist()

    return merge


def start_signal_stream(
    signals: DataFrame,
    out_path: str,
    checkpoint_path: str,
    out_format: str = "parquet",
):
    """Drain the signal stream into the signal table (AvailableNow, the
    reference's cron mode), one merge_batch per micro-batch; the
    checkpoint carries the resume point.  Returns the started query."""
    refuse_file_sink_log(out_path)
    return (
        signals.writeStream.foreachBatch(merge_batch(out_path, out_format))
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
