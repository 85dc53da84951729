"""Sinks — signal-table writer with dedup-on-write and date partitioning.

K1/K2: the reference appends batches into a ClickHouse ReplacingMergeTree
keyed (token_id, timestamp, name), which absorbs the deliberate overlap the
resume logic creates at range boundaries
(/root/reference/internal/service/clickhouse/clickhouse.go:113-130,
internal/sync/sync.go:128-137).  On plain Parquet the engine makes that
semantics explicit: one keep-one dedup on the same key inside every write
(dedup_signals; within-batch idempotency) and, for cross-run idempotency,
an anti-join against the existing table (the batch analog of MERGE).

Scale posture: partition by event date — time-range queries (the engine's
dominant predicate, S3) prune whole partitions; within files, sorting by
(token_id, timestamp) gives parquet row-group min/max stats that serve the
subject/token predicate (S2).  This is the Parquet equivalent of the
ClickHouse ORDER BY (token_id, timestamp, name) primary index [dep].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from es_ch_sync_spark.job.metrics import observe_signals

DEDUP_KEY = ["token_id", "timestamp", "name"]


def dedup_signals(signals: DataFrame, key: list[str] | None = None) -> DataFrame:
    """K2 — keep-one-row-per-key dedup on the signal key (ReplacingMergeTree
    analog), done once, by the sink (write_signals, the txlog branch of
    job/main.py).

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


def write_signals(
    signals: DataFrame,
    path: str,
    mode: str = "append",
    existing: DataFrame | None = None,
) -> dict:
    """K1+K2 — optionally anti-join already-written keys, dedup, write;
    returns the job/metrics.observe_signals metrics of the written rows
    (``n_signals`` …), gathered by the write itself.

    ``existing`` enables idempotent re-runs (reference guarantee: syncing
    the same range twice leaves the table unchanged).  The anti-join is
    key-only (3 narrow columns) so its shuffle is small relative to data.

    One shuffle: the dedup's Exchange hashes ``(event_date, token_id,
    timestamp, name)``, so a day is spread over every shuffle partition
    (a ``repartition("event_date")`` put a whole day in one task), and the
    dedup's Sort is the order each task writes its files in."""
    if existing is not None:
        signals = signals.join(existing.select(*DEDUP_KEY), on=DEDUP_KEY, how="left_anti")
    dated = signals.withColumn("event_date", F.to_date("timestamp"))
    out, obs = observe_signals(dedup_signals(dated, ["event_date", *DEDUP_KEY]))
    # TIMESTAMP_MICROS, not the INT96 default: INT96 parquet columns carry
    # NO min/max statistics, which silently voids this sink's whole
    # row-group-skipping story for time predicates (the docstring's
    # ORDER BY analog).  Set at runtime so it holds under vanilla sessions.
    spark = signals.sparkSession
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        (
            out.sortWithinPartitions("event_date", *DEDUP_KEY)
            .write.mode(mode)
            .partitionBy("event_date")
            .parquet(path)
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        else:
            # never explicitly set before this call: unset rather than
            # pinning MICROS as a permanent session side effect (ADVICE r5)
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
    return obs.get


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
