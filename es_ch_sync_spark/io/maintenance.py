"""Table maintenance on plain partitioned Parquet, and the stage-and-swap
commit every partition rewrite goes through.

At 100 TB these are the operations that keep the signal table healthy:
continuous ingestion produces overlapping keys (the sink's merge) and
many small files per partition (compaction).  Delta/Iceberg provide these
as table services; on plain Parquet they are two careful plan shapes:

- **Merge** (io/sinks.write_signals, which imports this module; this
  module imports no sink) rewrites ONLY the partitions the batch's
  window touches: read those partitions, one dedup over them ∪ the
  batch, swap the rewritten partitions in.  Work scales with touched
  partitions, not table size.
- **Compaction** rewrites a partition's many small files into
  size-targeted files, preserving the (token_id, timestamp, name) sort
  that gives parquet row-group stats their pruning power.

Write protocol (stage-and-swap): every rewrite materializes the merged
output into a sibling staging directory FIRST, then swaps each touched
partition directory into place with an atomic rename.  Two failure modes
this removes vs. in-place dynamic overwrite:

- *self-read-overwrite*: overwriting a path a plan is lazily reading is
  outside Spark's contract (can raise AnalysisException or read torn
  state).  Staging separates the read path from the write path entirely.
- *mid-commit data loss*: a failure during in-place overwrite leaves
  touched partitions deleted or half-written with no recovery.  With
  staging, a crash before any swap loses nothing; a crash mid-swap leaves
  every partition either fully-old or fully-new (per-partition renames
  are atomic on POSIX) and the staging dir still holds the remainder for
  manual recovery.  Atomicity is per-partition, not whole-table.

Writer protocol (lock + epoch manifest): stage-and-swap is single-writer
by design; the protocol makes violations DETECTED rather than silently
interleaved (the robustness the reference gets for free from
ReplacingMergeTree absorbing racing inserts):

- ``_WRITER_LOCK`` is acquired O_CREAT|O_EXCL before any work — a second
  concurrent writer fails immediately with ConcurrentWriteError naming
  the holder.  The lock is re-verified immediately before the first
  destructive rename (fencing: a force-recovered/stolen lock aborts the
  swap instead of interleaving with the new owner's writes).
- ``_MANIFEST.json`` records the table's write epoch and state.  The
  state flips committed → staging → committed around the swap window; a
  crash anywhere in that window leaves state=staging (and the lock
  behind), so the NEXT writer raises and points at
  ``recover_interrupted_write`` instead of building on a torn table.
  Both files are underscore-prefixed, so Spark's parquet reader ignores
  them.

For multi-writer / object-store production use a transactional table
format (Delta/Iceberg), whose MERGE replaces this module wholesale.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEDUP_KEY = ["token_id", "timestamp", "name"]  # the signal table's key
MANIFEST_FILE = "_MANIFEST.json"
LOCK_FILE = "_WRITER_LOCK"
_TS_TYPE = "spark.sql.parquet.outputTimestampType"


class ConcurrentWriteError(RuntimeError):
    """A second writer, or the debris of an interrupted one, was detected."""


@contextlib.contextmanager
def timestamp_micros(spark: SparkSession):
    """Write parquet timestamps as TIMESTAMP_MICROS for the duration.

    INT96, a vanilla session's default, carries NO footer min/max stats,
    which silently voids row-group skipping on time predicates and the
    txlog's manifest-stats pruning.  The session's own value is restored
    afterwards; one that was never set is unset, not pinned."""
    prev = spark.conf.get(_TS_TYPE, None)
    spark.conf.set(_TS_TYPE, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(_TS_TYPE, prev)
        else:
            spark.conf.unset(_TS_TYPE)


def _read_manifest(table_path: str) -> dict:
    p = os.path.join(table_path, MANIFEST_FILE)
    if not os.path.exists(p):
        return {"epoch": 0, "state": "committed"}
    with open(p) as f:
        return json.load(f)


def _write_manifest(table_path: str, manifest: dict) -> None:
    p = os.path.join(table_path, MANIFEST_FILE)
    tmp = f"{p}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, p)  # atomic on POSIX


def _acquire_lock(table_path: str, writer_id: str) -> None:
    os.makedirs(table_path, exist_ok=True)
    path = os.path.join(table_path, LOCK_FILE)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        holder = "<unreadable>"
        try:
            with open(path) as f:
                holder = f.read()
        except OSError:
            pass
        raise ConcurrentWriteError(
            f"another writer holds {path} ({holder}); if it crashed, run "
            "recover_interrupted_write(table_path) after inspecting the table"
        ) from None
    with os.fdopen(fd, "w") as f:
        json.dump({"writer": writer_id, "ts": time.time()}, f)


def _verify_lock(table_path: str, writer_id: str) -> None:
    """Fencing check before the first destructive rename: we must STILL be
    the lock holder (a force-recovery while we staged would have removed
    or re-issued it)."""
    path = os.path.join(table_path, LOCK_FILE)
    try:
        with open(path) as f:
            holder = json.load(f).get("writer")
    except (OSError, ValueError):
        holder = None
    if holder != writer_id:
        raise ConcurrentWriteError(
            f"writer lock for {table_path} was lost before the swap "
            f"(held by {holder!r}); aborting without touching the table"
        )


def _release_lock(table_path: str, writer_id: str) -> None:
    path = os.path.join(table_path, LOCK_FILE)
    try:
        with open(path) as f:
            if json.load(f).get("writer") != writer_id:
                return  # not ours anymore — never remove someone else's lock
        os.remove(path)
    except (OSError, ValueError):
        pass


def recover_interrupted_write(table_path: str) -> dict:
    """Clean up after a crashed writer: remove staging/trash debris and the
    stale lock, and reset the manifest to committed.

    Safe because the swap never deletes before the replacement exists — an
    interrupted run leaves every partition either fully-old or fully-new;
    removing the debris yields a consistent (possibly partially-advanced)
    table.  Returns a summary of what was removed.  Run audit_key_conflicts
    on the touched partitions afterwards if the interrupted batch was not
    idempotent."""
    removed = {"staging_dirs": [], "trash_dirs": [], "lock": False}
    for d in glob.glob(f"{table_path.rstrip('/')}__staging__*"):
        shutil.rmtree(d, ignore_errors=True)
        removed["staging_dirs"].append(d)
    for d in glob.glob(os.path.join(table_path, "*.__old__*")):
        shutil.rmtree(d, ignore_errors=True)
        removed["trash_dirs"].append(d)
    lock = os.path.join(table_path, LOCK_FILE)
    if os.path.exists(lock):
        os.remove(lock)
        removed["lock"] = True
    manifest = _read_manifest(table_path)
    if manifest.get("state") != "committed":
        manifest["state"] = "committed"
        manifest["recovered"] = True
        _write_manifest(table_path, manifest)
        removed["manifest_reset"] = True
    return removed


def _stage_and_swap(
    merged: DataFrame, table_path: str, partition_col: str, read: set[str]
) -> None:
    """Materialize ``merged`` into a staging dir, then atomically swap each
    staged ``<partition_col>=<value>`` directory into ``table_path``,
    under the writer lock + epoch manifest protocol (module docstring).

    ``read`` names the partition directories the rewrite read: a staged
    one outside it would replace rows the rewrite never saw, so that
    raises before the manifest or any partition is touched.

    The swap never deletes before the replacement exists: old partition →
    trash-rename, staged partition → final rename, trash removed last."""
    writer_id = uuid.uuid4().hex
    _acquire_lock(table_path, writer_id)
    staging = f"{table_path.rstrip('/')}__staging__{uuid.uuid4().hex[:8]}"
    try:
        manifest = _read_manifest(table_path)
        if manifest.get("state") != "committed":
            raise ConcurrentWriteError(
                f"{table_path} manifest state is {manifest.get('state')!r} "
                f"(epoch {manifest.get('epoch')}): a previous write was "
                "interrupted mid-swap; inspect and run "
                "recover_interrupted_write(table_path) first"
            )
        epoch = int(manifest.get("epoch", 0)) + 1
        with timestamp_micros(merged.sparkSession):
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
        staged = sorted(e for e in os.listdir(staging) if e.startswith(f"{partition_col}="))
        if not set(staged) <= read:
            raise ValueError(
                f"staged partitions {sorted(set(staged) - read)} of {table_path} "
                "fall outside the partitions the rewrite read"
            )
        _write_manifest(
            table_path,
            {"epoch": epoch, "state": "staging", "writer": writer_id, "staging": staging},
        )
        _verify_lock(table_path, writer_id)  # fence before first rename
        for entry in staged:
            src = os.path.join(staging, entry)
            dst = os.path.join(table_path, entry)
            trash = f"{dst}.__old__{uuid.uuid4().hex[:8]}"
            if os.path.exists(dst):
                os.rename(dst, trash)
            os.rename(src, dst)
            if os.path.exists(trash):
                shutil.rmtree(trash)
        _write_manifest(table_path, {"epoch": epoch, "state": "committed", "writer": writer_id})
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        _release_lock(table_path, writer_id)


def compact_partition(
    spark: SparkSession,
    table_path: str,
    partition_value: str,
    target_files: int = 1,
    partition_col: str = "event_date",
) -> None:
    """Rewrite one partition's files into ``target_files`` sorted files.

    Per-partition scope keeps the rewrite bounded and restartable; the sort
    restores row-group min/max locality for (token_id, timestamp) pruning."""
    df = spark.read.parquet(table_path).filter(F.col(partition_col) == partition_value)
    _stage_and_swap(
        df.repartition(target_files).sortWithinPartitions(*DEDUP_KEY),
        table_path,
        partition_col,
        {f"{partition_col}={partition_value}"},
    )


ROLLUP_KEY = ["token_id", "day", "name"]


def build_daily_rollup(signals: DataFrame) -> DataFrame:
    """Daily continuous-aggregate over the tall signal table:
    (token, day, name) → count / min / max / sum — the 'hypertable rollup'
    read-model for dashboard-style queries.

    All aggregates here are decomposable (count/min/max/sum), which is what
    makes INCREMENTAL maintenance possible: the rollup of (old ∪ delta)
    equals the pairwise merge of their rollups."""
    return signals.groupBy(
        F.col("token_id"), F.to_date("timestamp").alias("day"), F.col("name")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value_number").alias("v_min"),
        F.max("value_number").alias("v_max"),
        F.sum(F.col("value_number").cast("decimal(18,4)")).cast("double").alias("v_sum"),
    )


def maintain_daily_rollup(
    spark: SparkSession,
    rollup_path: str,
    signals_delta: DataFrame,
) -> None:
    """Incrementally fold a signal delta into a materialized daily rollup.

    The continuous-aggregate pattern: aggregate ONLY the delta, merge with
    the existing rollup rows for the touched (day) partitions, rewrite just
    those partitions (dynamic overwrite).  Work scales with the delta's
    day-span, not table history — the batch analog of a streaming windowed
    aggregation with state in the table itself."""
    delta = build_daily_rollup(signals_delta)

    if not os.path.exists(rollup_path):
        (
            delta.repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(rollup_path)
        )
        return

    existing = spark.read.parquet(rollup_path)
    touched = [r["day"] for r in delta.select("day").distinct().collect()]
    merged = (
        existing.filter(F.col("day").isin(touched))
        .unionByName(delta)
        .groupBy(*ROLLUP_KEY)
        .agg(
            F.sum("n").alias("n"),
            F.min("v_min").alias("v_min"),
            F.max("v_max").alias("v_max"),
            F.sum("v_sum").alias("v_sum"),
        )
    )
    _stage_and_swap(merged.repartition("day"), rollup_path, "day", {f"day={d}" for d in touched})


def audit_key_conflicts(
    df: DataFrame,
    key: list[str] | None = None,
) -> DataFrame:
    """Post-merge conflict audit: keys with more than one surviving row.

    The invariant check behind ReplacingMergeTree semantics (and the
    sink's merge): after any merge, ``(token_id, timestamp, name)`` must
    be unique — a non-empty result means a merge bug or a writer racing the
    swap.  One hash aggregation over narrow key columns; at 100 TB run it
    per touched partition, not whole-table."""
    key = key or DEDUP_KEY
    return (
        df.groupBy(*[F.col(k) for k in key])
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def table_file_stats(spark: SparkSession, table_path: str) -> DataFrame:
    """Files-per-partition + bytes profile — the compaction trigger signal."""
    df = spark.read.parquet(table_path)
    return (
        df.withColumn("_file", F.input_file_name())
        .groupBy("event_date")
        .agg(
            F.countDistinct("_file").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("event_date")
    )


def retention_vacuum(
    table_path: str,
    keep_min_value: str,
    partition_col: str = "event_date",
) -> list[str]:
    """Retention enforcement: drop every ``<partition_col>=<value>``
    directory whose value sorts below ``keep_min_value`` (ISO dates sort
    lexically).  Returns the dropped partition values.

    Partition-level deletion is the only retention shape that scales — a
    row-level DELETE over a 100 TB table rewrites everything it keeps,
    while dropping aged-out partition directories is O(partitions) pure
    metadata.  The reference relies on ClickHouse TTL for this; here it is
    an explicit, testable maintenance call (same local-FS scope and
    caveats as _stage_and_swap; object-store production belongs to
    Delta/Iceberg retention).  A reader racing the drop can list a
    partition directory that is gone when it opens the files."""
    dropped: list[str] = []
    if not os.path.isdir(table_path):
        return dropped
    prefix = f"{partition_col}="
    for entry in sorted(os.listdir(table_path)):
        if not entry.startswith(prefix):
            continue
        value = entry[len(prefix):]
        if value < keep_min_value:
            shutil.rmtree(os.path.join(table_path, entry))
            dropped.append(value)
    return dropped
