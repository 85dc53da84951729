"""Streaming materialized-view maintenance: stream → txlog fact → IVM.

The reference's full loop is continuous sync INTO a store plus a serving
aggregate kept current (ClickHouse materialized views over the signal
table).  This composes the engine's existing pieces into exactly that:
each micro-batch (1) lands in the txlog fact table as an atomic commit
carrying the batch id — a replayed batch after a crash commits NOTHING
twice (the commit's ``batch_id`` meta, read back with
last_committed_meta, is its idempotence watermark), and (2)
delta-refreshes the rollup view, which reads ONLY the files that commit
added (io/ivm.py) and records the fact version it is current to — so a
replayed or racing refresh is a provable no-op, never a double count.

End-to-end guarantee (pinned by test + the registered query's oracle):
after any sequence of drains/restarts, read_rollup_view equals the
one-shot GROUP BY over everything the stream delivered — the IVM
bit-identity claim extended across the streaming boundary.

Scale: the fact append shuffles nothing (writes the batch as-is); the
refresh aggregates only the new files and merges |groups| partial rows.
State lives in the two txlogs, not the stream — the query itself is
stateless, so no state store grows with key cardinality at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def rollup_stream_writer(
    fact_table: str,
    view_table: str,
    group_cols: list[str],
    sum_col: str,
):
    """foreachBatch function: exactly-once fact append + view refresh.

    Usage::

        q = (df.writeStream
               .foreachBatch(rollup_stream_writer(fact, view, ["k"], "v"))
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    """
    from es_ch_sync_spark.io.ivm import refresh_rollup_view
    from es_ch_sync_spark.io.txlog import last_committed_meta, txlog_append

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        seen = last_committed_meta(fact_table, "batch_id")
        if seen is None or batch_id > seen:
            txlog_append(batch_df, fact_table, meta={"batch_id": batch_id})
        # refresh AFTER the commit: catches up to the fact head whatever
        # happened before (including a crash between append and refresh
        # on a previous incarnation — the view meta knows its version)
        refresh_rollup_view(
            batch_df.sparkSession, fact_table, view_table, group_cols, sum_col
        )

    return write_batch
