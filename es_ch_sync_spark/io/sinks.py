"""Sinks — the signal-table writer: one merge with dedup-on-write, and
date partitioning.

K1/K2: the reference appends batches into a ClickHouse ReplacingMergeTree
keyed (token_id, timestamp, name), which absorbs the deliberate overlap the
resume logic creates at range boundaries
(/root/reference/internal/service/clickhouse/clickhouse.go:113-130,
internal/sync/sync.go:128-137).  Here that is ONE merge, write_signals:
the table's rows in the run's window ∪ the batch, one dedup_signals
aggregate whose payload leads with a source rank (batch 0, table 1).  In
a batch the min(struct) winner holds; across runs the last write wins, as
ReplacingMergeTree without a version column keeps the last insert.  So a
re-run, or overlapping windows, leave the table equal to one run's output.

Scale posture: partition by event date — time-range queries (the engine's
dominant predicate, S3) prune whole partitions, and the merge reads and
replaces only the partitions its window touches; within files, sorting by
(token_id, timestamp) gives parquet row-group min/max stats that serve the
subject/token predicate (S2).  This is the Parquet equivalent of the
ClickHouse ORDER BY (token_id, timestamp, name) primary index [dep].
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from es_ch_sync_spark.io.maintenance import DEDUP_KEY, _stage_and_swap
from es_ch_sync_spark.job.metrics import observe_signals

_RANK = "_source_rank"


def dedup_signals(signals: DataFrame, key: list[str] | None = None) -> DataFrame:
    """K2 — keep-one-row-per-key dedup on the signal key (ReplacingMergeTree
    analog), done once, by the sink's merge (merge_rows, under
    write_signals and txlog_merge).

    The winner per key is the lexicographically smallest
    ``(source, value_number, …)`` payload struct — ``min(struct)``, so the
    kept row is independent of shuffle arrival order (first() kept
    whichever row arrived first) and is one whole source row, never a
    column-wise mix.  Null fields order first, so the winner is the row
    the former ``array_min(collect_list(struct))`` kept (pinned in
    tests/test_sync_job.py).

    ``min`` over a struct with string fields has no fixed-width buffer, so
    Spark plans SortAggregate: one Exchange on ``key`` and a Sort per side.
    write_signals groups on ``(event_date, token_id, timestamp, name)``,
    which makes that Sort the write's own partition + file order, so the
    write adds no Exchange and no Sort of its own.  Dedup + partitioned
    write, warm, on the 52,500-doc benchmark export (762k signal rows,
    local[4], median of 5): 2.0 s in this form, against 3.9 s for one
    ``array_min(collect_list(struct))`` ObjectHashAggregate and 5.9 s for
    the two the sync path used to run.  ``row_number()`` over the same
    window read 1.8 s, inside the runs' spread, so the single aggregate
    stays."""
    key = key or DEDUP_KEY
    others = [c for c in signals.columns if c not in key]
    return (
        signals.groupBy(*key)
        .agg(F.min(F.struct(*others)).alias("_payload"))
        .select(*key, *[F.col(f"_payload.{c}").alias(c) for c in others])
        .select(*signals.columns)
    )


def merge_rows(new: DataFrame, existing: DataFrame | None, key: list[str]) -> DataFrame:
    """The one merge: dedup_signals over ``new`` ∪ ``existing`` on ``key``
    with a leading source rank in the payload (new 0, existing 1), so a
    shared key keeps the new row and other existing rows survive.  With no
    ``existing`` it is dedup_signals alone, the plain deduped write."""
    if existing is None:
        return dedup_signals(new, key)
    rest = [c for c in new.columns if c not in key]
    ranked = new.select(*key, F.lit(0).alias(_RANK), *rest).unionByName(
        existing.select(*key, F.lit(1).alias(_RANK), *rest)
    )
    return dedup_signals(ranked, key).select(*new.columns)


def write_signals(
    signals: DataFrame,
    path: str,
    window: tuple[datetime, datetime],
    out_format: str = "parquet",
) -> dict:
    """K1+K2 — merge ``signals``, the rows of the ``[start, stop)``
    ``window``, into the signal table at ``path`` (merge_rows); returns
    the job/metrics.observe_signals metrics of the rows written.

    - ``parquet``: reads only the window's ``event_date`` partitions (its
      dates in the session zone, as ``to_date`` computes them, listed by
      explicit path) and replaces them via maintenance._stage_and_swap,
      which raises before any swap if a row falls outside the window.
    - ``txlog``: txlog_merge over the files whose ``timestamp`` stats can
      overlap the window, recording those stats for the next run.

    With nothing in the window there is no scan of the target: one
    Exchange on ``(event_date, token_id, timestamp, name)``, so a day
    spreads over every task, and the dedup's Sort is the file order."""
    refuse_file_sink_log(path)
    spark, (start, stop) = signals.sparkSession, window
    if out_format == "txlog":
        from es_ch_sync_spark.io.txlog import txlog_merge

        where = [("timestamp", ">=", start), ("timestamp", "<", stop)]
        return txlog_merge(
            signals, path, DEDUP_KEY, where=where, stats_cols=["timestamp"],
            observe=observe_signals,
        )["metrics"]
    dated = signals.withColumn("event_date", F.to_date("timestamp"))
    tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    first, last = (t.astimezone(tz).date() for t in (start, stop - timedelta(microseconds=1)))
    touched = [f"event_date={first + timedelta(days=i)}" for i in range((last - first).days + 1)]
    present = [os.path.join(path, p) for p in touched if os.path.isdir(os.path.join(path, p))]
    existing = (
        spark.read.schema(dated.schema).option("basePath", path).parquet(*present)
        if present
        else None
    )
    out, obs = observe_signals(merge_rows(dated, existing, ["event_date", *DEDUP_KEY]))
    _stage_and_swap(
        out.sortWithinPartitions("event_date", *DEDUP_KEY), path, "event_date", set(touched)
    )
    return obs.get


def refuse_file_sink_log(path: str) -> None:
    """Raise before touching ``path`` if it holds a streaming file-sink log:
    readers list files through it, so a swapped partition breaks the
    table, and taking it over would expose uncommitted batches' files."""
    log = os.path.join(path, "_spark_metadata")
    if os.path.isdir(log):
        raise ValueError(f"{path} holds a streaming file-sink log at {log}; copy its rows "
                         "(spark.read.parquet honours the log) into a new signal table")


def replace_rows(rows: DataFrame, path: str, scope: Column) -> None:
    """Replace the rows under ``path`` where ``scope`` holds (null = false)
    by ``rows``' rows where it holds, duplicates kept: a side output's
    re-run rule.  Nothing at ``path``: one plain write; else a staged
    write swapped in, as a plan may not overwrite a path it reads."""
    in_scope = F.coalesce(scope, F.lit(False))
    rows = rows.filter(in_scope)
    if not os.path.isdir(path):
        rows.write.parquet(path)
        return
    kept = rows.sparkSession.read.schema(rows.schema).parquet(path).filter(~in_scope)
    staging = f"{path.rstrip('/')}__staging__{uuid.uuid4().hex[:8]}"
    kept.unionByName(rows).write.parquet(staging)
    os.rename(path, f"{staging}__old")
    os.rename(staging, path)
    shutil.rmtree(f"{staging}__old")


def read_signals(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_corpus_shards(
    docs,
    out_path: str,
    shard_tokens: int = 20_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
):
    """Export the corpus as token-balanced training shards + a manifest.

    Layout: ``{out_path}/data/shard=N/...parquet`` — one partition dir per
    shard, documents inside each shard ordered by their global
    ``start_offset`` (a dataloader reading shard files sequentially reads
    the deterministic global shuffle order).  ``{out_path}/manifest/`` is a
    tiny parquet table (shard, n_docs, n_tokens, first_offset) — the
    index a trainer consults to schedule epochs without listing data
    files.

    Scale: shard assignment is the two-phase bucketed cumsum
    (sampling.assign_shards — no single-partition window); the write
    repartitions by shard so each shard's rows land in one task, and
    sortWithinPartitions keeps file order = stream order.  The manifest
    is one tiny aggregate.  Returns (n_docs, n_shards)."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.sampling import assign_shards

    assigned = assign_shards(
        docs, shard_tokens=shard_tokens, text_col=text_col, id_col=id_col
    )
    rows = docs.join(assigned, id_col).repartition(F.col("shard")).sortWithinPartitions(
        "start_offset"
    )
    rows.write.mode(mode).partitionBy("shard").parquet(f"{out_path}/data")
    manifest = (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("start_offset").alias("first_offset"),
        )
    )
    manifest.coalesce(1).write.mode(mode).parquet(f"{out_path}/manifest")
    n_docs = docs.count()
    n_shards = manifest.count()
    return n_docs, n_shards
