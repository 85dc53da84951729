"""Mini log-structured table format: atomic commits, snapshot isolation,
time travel, optimistic concurrency, and vacuum.

The reference leans on ClickHouse's MergeTree machinery for atomic batch
visibility (`/root/reference/internal/service/clickhouse/clickhouse.go`
PrepareBatch/Send — a batch becomes visible as one part).  On a data lake
the public equivalent is a transaction log over immutable files (the
Delta-Lake-style protocol): each commit is one atomically-created JSON
file listing add/remove actions against immutable parquet data files.

Guarantees (and how):

- **Atomic commits** — data files are written first, then a single log
  entry ``_txlog/<version>.json`` is created with ``O_CREAT|O_EXCL``.
  A crash before the log write leaves orphan data files that no reader
  ever sees (and ``vacuum_orphans`` reclaims).
- **Snapshot isolation** — readers resolve the file list from the log
  once, then read only immutable files; a concurrent writer can only add
  a NEW log version, never mutate files a snapshot references.
- **Optimistic concurrency** — two writers racing to version N: exactly
  one ``O_EXCL`` create succeeds; the loser re-reads the log and retries
  (append) or raises (overwrite), mirroring Delta's conflict rules.
- **Time travel** — ``read_table(..., version=v)`` replays the log up to
  ``v``; ``table_history`` lists commits.
- **Vacuum** — ``vacuum(keep_versions=k)`` deletes files unreferenced by
  the retained version range and records a ``truncate`` action so older
  time travel fails loudly instead of returning partial data.

Scale notes: the log is O(commits) tiny JSON files, data is immutable
parquet — the same shape Delta/Iceberg ship at petabyte scale; log
replay cost is bounded by checkpointing in those systems (out of scope
here, the replay is a few hundred entries at most in tests).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from es_ch_sync_spark.io.maintenance import timestamp_micros

LOG_DIR = "_txlog"
DATA_DIR = "data"


class TxConflictError(RuntimeError):
    """Another writer committed the version this writer raced for."""


class TxVersionError(ValueError):
    """Requested version does not exist or was vacuum-truncated."""


def _log_path(table: str) -> str:
    return os.path.join(table, LOG_DIR)


def _entry_path(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:08d}.json")


def _versions(table: str) -> list[int]:
    d = _log_path(table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5])
        for f in os.listdir(d)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def current_version(table: str) -> int | None:
    vs = _versions(table)
    return vs[-1] if vs else None


def _read_entry(table: str, version: int) -> dict:
    with open(_entry_path(table, version)) as f:
        return json.load(f)


def _write_data_files(df: DataFrame, table: str) -> list[str]:
    """Write df as immutable parquet files under data/<uuid>/ and return
    their table-relative paths.  The directory name is fresh per commit,
    so a crashed writer can never collide with a committed one.

    Timestamps are written as TIMESTAMP_MICROS, not INT96: INT96 columns
    carry NO parquet footer statistics, which would silently disable both
    this log's manifest-stats pruning and Spark's own row-group skipping
    on time predicates — the engine's dominant predicate shape (S3)."""
    sub = os.path.join(DATA_DIR, uuid.uuid4().hex)
    out = os.path.join(table, sub)
    with timestamp_micros(df.sparkSession):
        df.write.mode("error").parquet(out)
    return [
        os.path.join(sub, f)
        for f in sorted(os.listdir(out))
        if f.endswith(".parquet")
    ]


def _json_stat(v):
    """Footer stat → JSON-safe form: numbers/strings native, datetimes →
    UTC isoformat; None = unrepresentable (drop the column's stats)."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return v.astimezone(datetime.timezone.utc).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _collect_file_stats(
    table: str, files: list[str], stats_cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``stats_cols`` read from parquet FOOTERS —
    no data pages are touched, so commit cost is O(files), not O(rows).
    A column missing statistics in any row group of a file is dropped for
    that file (pruning stays conservative)."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    want = set(stats_cols)
    for rel in files:
        try:
            md = pq.ParquetFile(os.path.join(table, rel)).metadata
        except Exception:  # noqa: BLE001 — stats are best-effort metadata
            continue
        per_col: dict[str, list] = {}
        ok = set(want)
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                if name not in ok:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    ok.discard(name)
                    per_col.pop(name, None)
                    continue
                lo, hi = _json_stat(st.min), _json_stat(st.max)
                if lo is None or hi is None:
                    ok.discard(name)
                    per_col.pop(name, None)
                    continue
                cur = per_col.get(name)
                if cur is None:
                    per_col[name] = [lo, hi]
                else:
                    cur[0] = min(cur[0], lo)
                    cur[1] = max(cur[1], hi)
        if per_col:
            out[rel] = per_col
    return out


def _try_commit(table: str, version: int, entry: dict) -> bool:
    """Atomically create the log entry for ``version``; False if another
    writer won the race (the O_EXCL create is the whole commit protocol)."""
    os.makedirs(_log_path(table), exist_ok=True)
    path = _entry_path(table, version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        json.dump(entry, f)
    return True


def _entry(
    table: str, op: str, files: list[str], remove: list[str],
    stats_cols: list[str] | None = None, meta: dict | None = None,
) -> dict:
    """A log entry; ``stats_cols`` adds the new files' footer stats."""
    entry: dict = {"op": op, "add": files, "remove": remove}
    st = _collect_file_stats(table, files, stats_cols) if stats_cols else None
    if st:
        entry["stats"] = st
    if meta:
        entry["meta"] = meta
    return entry


def _commit_rewrite(
    table: str,
    base: int | None,
    op: str,
    df: DataFrame | None,
    remove: list[str],
    stats_cols: list[str] | None = None,
) -> list[str]:
    """The copy-on-write commit: write ``df`` (None = no rows) as new data
    files and commit one remove+add entry pinned at ``base`` + 1 (0 for an
    empty table).  Pinned, not retried: a writer that lost the race
    computed its output from a stale snapshot, so it removes its own
    uncommitted files and raises TxConflictError; the caller re-runs
    against the new snapshot.  Returns the added files."""
    files = _write_data_files(df, table) if df is not None else []
    v = 0 if base is None else base + 1
    if not _try_commit(table, v, _entry(table, op, files, remove, stats_cols)):
        for rel in files:
            try:
                os.remove(os.path.join(table, rel))
            except OSError:
                pass
        raise TxConflictError(
            f"{op} of {table} raced another commit at version {v}; "
            "re-run against the new snapshot"
        )
    return files


def txlog_append(
    df: DataFrame,
    table: str,
    max_retries: int = 10,
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Append ``df`` as a new commit; returns the committed version.
    Append never conflicts semantically, so a lost race just retries at
    the next version number.  ``meta`` is recorded verbatim in the log
    entry (e.g. a streaming batch id for exactly-once sinks).
    ``stats_cols`` records per-file [min, max] footer stats in the entry;
    ``read_table(..., where=...)`` then skips files a bounded predicate
    cannot match — including at old versions (time travel), which plain
    directory-partition pruning cannot serve."""
    entry = _entry(table, "append", _write_data_files(df, table), [], stats_cols, meta)
    for _ in range(max_retries):
        cur = current_version(table)
        v = 0 if cur is None else cur + 1
        if _try_commit(table, v, entry):
            return v
    raise TxConflictError(
        f"append to {table} lost the commit race {max_retries} times"
    )


def txlog_overwrite(
    df: DataFrame,
    table: str,
    expected_base: int | None = None,
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Replace the table contents in one commit.  Overwrite conflicts are
    NOT retried: if another writer committed since this writer read its
    base snapshot, the right outcome is an error (the caller must
    re-derive its output from the new state) — the Delta
    'WriteSerializable' rule.  Pass ``expected_base`` (the version the
    overwrite was computed FROM) to pin the read snapshot; by default the
    current version at call time is used."""
    base = expected_base if expected_base is not None else current_version(table)
    removed: list[str] = snapshot_files(table, base) if base is not None else []
    files = _write_data_files(df, table)
    v = (base + 1) if base is not None else 0
    if not _try_commit(table, v, _entry(table, "overwrite", files, removed, stats_cols, meta)):
        raise TxConflictError(
            f"overwrite of {table} raced another commit at version {v}; "
            "re-read the table and recompute"
        )
    return v


def snapshot_files(table: str, version: int | None = None) -> list[str]:
    """Replay the log to the file list visible at ``version`` (default:
    latest).  Raises TxVersionError for unknown or vacuum-truncated
    versions."""
    vs = _versions(table)
    if not vs:
        raise TxVersionError(f"{table} has no committed versions")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise TxVersionError(f"version {v} does not exist in {table}")
    entries = {ver: _read_entry(table, ver) for ver in vs}
    # truncate markers anywhere in the log bound time travel — they must be
    # honored even when the requested version precedes the marker's commit
    truncated_through = max(
        (e["through"] for e in entries.values() if e["op"] == "truncate"),
        default=None,
    )
    if truncated_through is not None and v <= truncated_through:
        raise TxVersionError(
            f"version {v} of {table} was vacuum-truncated (history starts "
            f"after {truncated_through})"
        )
    live: list[str] = []
    for ver in vs:
        if ver > v:
            break
        e = entries[ver]
        if e["op"] == "truncate":
            continue
        for r in e.get("remove", []):
            if r in live:
                live.remove(r)
        live.extend(e.get("add", []))
    return live


def snapshot_stats(table: str, version: int | None = None) -> dict[str, dict]:
    """Per-file stats visible at ``version``: replay the log collecting
    each entry's recorded footer stats (stats travel with the add action,
    so time travel sees exactly the stats its files were committed with)."""
    vs = _versions(table)
    if not vs:
        return {}
    v = vs[-1] if version is None else version
    out: dict[str, dict] = {}
    for ver in vs:
        if ver > v:
            break
        e = _read_entry(table, ver)
        for rel, st in e.get("stats", {}).items():
            out[rel] = st
    return out


def _stat_native(recorded, like):
    """Decode a recorded stat bound into the query value's domain; None =
    not comparable → keep the file (same conservative rule as the
    es_status connector's typed pruning)."""
    import datetime

    try:
        if isinstance(like, bool):
            return None
        if isinstance(like, (int, float)):
            return recorded if isinstance(recorded, (int, float)) else None
        if isinstance(like, (datetime.datetime, datetime.date)) or hasattr(
            like, "isoformat"
        ):
            if not isinstance(recorded, str):
                return None
            d = datetime.datetime.fromisoformat(recorded)
            if d.tzinfo is None:
                d = d.replace(tzinfo=datetime.timezone.utc)
            return d.astimezone(datetime.timezone.utc)
        if isinstance(like, str):
            if not isinstance(recorded, str):
                return None
            # If the recorded stat is an ISO datetime (timestamp-typed
            # column) but the caller passed a string predicate value, the
            # two can carry DIFFERENT textual formats ('2024-01-10
            # 23:59:59' vs '2024-01-10T00:00:00+00:00') and a
            # lexicographic compare would wrongly prune a matching file
            # (' ' < 'T') — silent row loss (ADVICE r5).  Refuse to prune
            # instead: pruning must stay a superset guarantee, and
            # callers pass datetime values for exact timestamp pruning.
            try:
                datetime.datetime.fromisoformat(recorded)
            except ValueError:
                return recorded  # genuinely a string column
            return None
    except (TypeError, ValueError):
        return None
    return None


def _norm_query_value(v):
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            return v.replace(tzinfo=datetime.timezone.utc)
        return v.astimezone(datetime.timezone.utc)
    if isinstance(v, datetime.date):
        return datetime.datetime(
            v.year, v.month, v.day, tzinfo=datetime.timezone.utc
        )
    return v


def prune_snapshot_files(
    table: str,
    files: list[str],
    where: list[tuple],
    version: int | None = None,
) -> list[str]:
    """Drop files whose recorded [min, max] provably cannot satisfy every
    ``(col, op, value)`` conjunct (op ∈ ==, <, <=, >, >=).  Files without
    stats for a referenced column are always kept — pruning returns a
    SUPERSET of the matching files; callers still apply the real filter."""
    stats = snapshot_stats(table, version)
    if not stats:
        return files

    def may_match(rel: str) -> bool:
        fstats = stats.get(rel)
        if not fstats:
            return True
        for col, op, value in where:
            if col not in fstats:
                continue
            q = _norm_query_value(value)
            lo = _stat_native(fstats[col][0], q)
            hi = _stat_native(fstats[col][1], q)
            if lo is None or hi is None:
                continue
            if op == "==" and (q < lo or q > hi):
                return False
            if op in (">", ">=") and q > hi:
                return False
            if op in ("<", "<=") and q < lo:
                return False
        return True

    return [f for f in files if may_match(f)]


def read_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot read; ``where=[("ts", ">=", lo), ("ts", "<", hi)]`` prunes
    files via commit-recorded footer stats BEFORE Spark plans the scan —
    the manifest-pruning analog of Delta data skipping, and it works at
    any time-travel version.  Pruning is a superset guarantee only: apply
    the same predicate with ``.filter`` for exact semantics."""
    files = snapshot_files(table, version)
    if not files:
        raise TxVersionError(f"{table} is empty at version {version}")
    if where:
        files = prune_snapshot_files(table, files, where, version)
        if not files:
            # every file provably out of range: empty frame, correct schema
            all_files = snapshot_files(table, version)
            return (
                spark.read.parquet(os.path.join(table, all_files[0])).limit(0)
            )
    return spark.read.parquet(*[os.path.join(table, f) for f in files])


def table_history(table: str) -> list[dict]:
    return [
        {
            "version": v,
            "op": (e := _read_entry(table, v))["op"],
            "n_added": len(e.get("add", [])),
            "n_removed": len(e.get("remove", [])),
        }
        for v in _versions(table)
    ]


def txlog_compact(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    stats_cols: list[str] | None = None,
    expected_base: int | None = None,
    sort_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE: bin-pack the snapshot's small data files into
    ~``target_file_bytes`` files in ONE serializable commit — the answer
    to the small-file problem every streaming/micro-batch ingest creates
    (a 100 TB table fed by per-batch appends accumulates millions of tiny
    files; scan planning, footer reads, and shuffle-fetch all degrade
    linearly in file COUNT, not bytes).  Modeled on Delta OPTIMIZE
    (public docs/whitepaper), expressed as this log's native remove+add
    entry, which the snapshot replay already understands — so:

    - readers at the CURRENT version see the same rows through fewer,
      right-sized files (compaction rewrites bytes, never row content);
    - TIME TRAVEL below the compaction still replays the original small
      files (they stay on disk until ``vacuum``);
    - per-file [min, max] stats are recomputed for the packed files
      (``stats_cols``), so bounded-read pruning keeps working;
    - conflict rule: strict WriteSerializable like txlog_overwrite — the
      commit is pinned at ``expected_base``+1 (default: the version the
      file listing was read at) and a lost race raises; the caller simply
      re-runs compaction against the new snapshot.  Appends composing
      with in-flight compaction is future work Delta solves with
      conflict re-checks; strict-and-retry is the honest simple rule.

    Files at or above ``small_file_bytes`` (default: target/2) are left
    untouched — re-writing already-right-sized files is wasted IO.
    ``sort_by`` additionally RANGE-CLUSTERS the packed output (Delta
    "OPTIMIZE ... ZORDER BY" for the 1-D case): rows are range-
    partitioned and sorted on the given columns, so each packed file
    covers a disjoint slice and the recomputed [min, max] stats become
    maximally selective — compaction that repairs small files AND data
    layout in the same commit.  Returns {'version', 'compacted_files',
    'new_files', 'bytes'}; a no-op (0 or 1 small file) commits
    nothing."""
    base = expected_base if expected_base is not None else current_version(table)
    if base is None:
        return {"version": None, "compacted_files": 0, "new_files": 0, "bytes": 0}
    cutoff = small_file_bytes if small_file_bytes is not None else target_file_bytes // 2
    small: list[str] = []
    total = 0
    for rel in snapshot_files(table, base):
        try:
            sz = os.path.getsize(os.path.join(table, rel))
        except OSError:
            continue
        if sz < cutoff:
            small.append(rel)
            total += sz
    if len(small) <= 1:
        return {"version": base, "compacted_files": 0, "new_files": 0, "bytes": 0}
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(*[os.path.join(table, f) for f in small])
    if sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_out)
    files = _commit_rewrite(table, base, "compact", df, small, stats_cols)
    return {
        "version": base + 1,
        "compacted_files": len(small),
        "new_files": len(files),
        "bytes": total,
    }


_WHERE_OPS = {
    "==": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def _where_column(where: list[tuple]):
    from pyspark.sql import functions as F

    out = None
    for col, op, value in where:
        c = _WHERE_OPS[op](F.col(col), F.lit(value))
        out = c if out is None else (out & c)
    return out


def txlog_delete(
    spark: SparkSession,
    table: str,
    where: list[tuple],
    stats_cols: list[str] | None = None,
    expected_base: int | None = None,
) -> dict:
    """Row-level DELETE as copy-on-write (the Delta DELETE algorithm,
    public docs/whitepaper): files whose recorded stats PROVABLY contain
    no matching row are left untouched — only the pruned superset is
    rewritten without the matching rows, in one serializable remove+add
    commit.  The GDPR-erasure shape at 100 TB: deleting one user's rows
    from a stats-clustered table rewrites the handful of files that can
    contain them, not the table.

    ``where`` is the same (col, op, value) conjunction list read_table
    takes — op ∈ ==, <, <=, >, >=; all conjuncts must hold for a row to
    be DELETED.  Time travel below the delete still sees the rows (the
    original files stay until vacuum).  Conflict rule: strict
    WriteSerializable like overwrite/compact; a lost race cleans up its
    own files and raises.  Returns {'version', 'rewritten_files',
    'new_files', 'deleted_rows'} — a provably-no-match delete commits
    nothing."""
    base = expected_base if expected_base is not None else current_version(table)
    if base is None:
        raise TxVersionError(f"{table} has no committed versions")
    files = snapshot_files(table, base)
    affected = prune_snapshot_files(table, files, where, base)
    if not affected:
        return {
            "version": base, "rewritten_files": 0, "new_files": 0,
            "deleted_rows": 0,
        }
    pred = _where_column(where)
    df = spark.read.parquet(*[os.path.join(table, f) for f in affected])
    keep = df.filter(~pred | pred.isNull())
    n_before = df.count()
    n_after = keep.count()
    new_files = _commit_rewrite(
        table, base, "delete", keep if n_after > 0 else None, affected, stats_cols
    )
    return {
        "version": base + 1,
        "rewritten_files": len(affected),
        "new_files": len(new_files),
        "deleted_rows": n_before - n_after,
    }


def txlog_update(
    spark: SparkSession,
    table: str,
    where: list[tuple],
    set_exprs: dict[str, str],
    stats_cols: list[str] | None = None,
    expected_base: int | None = None,
) -> dict:
    """Predicate UPDATE as copy-on-write — completes the DML triad next
    to ``txlog_delete`` (predicate) and ``txlog_merge`` (by-key upsert).
    Same pruning contract as DELETE: only files whose stats can contain a
    matching row are rewritten; inside them, matching rows get
    ``set_exprs`` (column → SQL expression over the row, e.g.
    {'value': 'value * 1.1'}) and non-matching rows are copied byte-
    for-byte.  Serializable commit, loud conflict, self-cleanup."""
    from pyspark.sql import functions as F

    base = expected_base if expected_base is not None else current_version(table)
    if base is None:
        raise TxVersionError(f"{table} has no committed versions")
    files = snapshot_files(table, base)
    affected = prune_snapshot_files(table, files, where, base)
    if not affected:
        return {
            "version": base, "rewritten_files": 0, "new_files": 0,
            "updated_rows": 0,
        }
    pred = _where_column(where)
    df = spark.read.parquet(*[os.path.join(table, f) for f in affected])
    n_updated = df.filter(pred).count()
    updated = df.withColumns(
        {c: F.when(pred, F.expr(e)).otherwise(F.col(c)) for c, e in set_exprs.items()}
    )
    new_files = _commit_rewrite(table, base, "update", updated, affected, stats_cols)
    return {
        "version": base + 1,
        "rewritten_files": len(affected),
        "new_files": len(new_files),
        "updated_rows": n_updated,
    }


def vacuum(table: str, keep_versions: int = 1) -> dict:
    """Delete data files unreferenced by the newest ``keep_versions``
    snapshots, and commit a ``truncate`` marker so time travel below the
    horizon fails loudly.  Returns {'deleted': n, 'horizon': v}."""
    vs = _versions(table)
    if not vs:
        return {"deleted": 0, "horizon": None}
    horizon = vs[max(0, len(vs) - keep_versions)]
    keep: set[str] = set()
    for v in vs:
        if v >= horizon:
            try:
                keep.update(snapshot_files(table, v))
            except TxVersionError:
                continue
    deleted = 0
    for root, _dirs, files in os.walk(os.path.join(table, DATA_DIR)):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, table)
            if f.endswith(".parquet") and rel not in keep:
                os.remove(full)
                deleted += 1
    if horizon > vs[0]:
        v_new = vs[-1] + 1
        if not _try_commit(
            table, v_new, {"op": "truncate", "through": horizon - 1}
        ):
            raise TxConflictError(f"vacuum of {table} raced another commit")
    return {"deleted": deleted, "horizon": horizon}


def vacuum_orphans(table: str) -> int:
    """Remove data files referenced by NO log version — the residue of a
    writer that crashed between writing data and committing the log.
    Safe concurrently: a file becomes referenced only by a commit, and
    commits happen strictly after data files are fully written."""
    referenced: set[str] = set()
    for v in _versions(table):
        e = _read_entry(table, v)
        referenced.update(e.get("add", []))
    removed = 0
    data_root = os.path.join(table, DATA_DIR)
    for root, _dirs, files in os.walk(data_root):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, table)
            if f.endswith(".parquet") and rel not in referenced:
                os.remove(full)
                removed += 1
    return removed


def last_committed_meta(table: str, key: str) -> int | None:
    """Largest integer ``meta[key]`` across all commits, or None.  The
    idempotence watermark for exactly-once streaming sinks: a replayed
    micro-batch with ``meta[key] <= last_committed_meta`` has already
    landed and must be skipped."""
    best: int | None = None
    for v in _versions(table):
        m = _read_entry(table, v).get("meta", {})
        if key in m and (best is None or m[key] > best):
            best = m[key]
    return best


def txlog_merge(
    updates: DataFrame,
    table: str,
    key_cols: list[str],
    where: list[tuple] | None = None,
    expected_base: int | None = None,
    stats_cols: list[str] | None = None,
    observe=None,
) -> dict:
    """Keyed MERGE (upsert) as copy-on-write through io/sinks.merge_rows,
    the parquet sink's merge: ``updates`` win shared keys, new keys
    append, other rows survive.  ``where`` is read_table's (col, op,
    value) list and must hold for every update: only files whose stats
    can overlap it (stats-less files included) are rewritten; None = all.
    One commit pinned to the version read, so a concurrent commit raises
    TxConflictError instead of losing one writer's rows.  ``observe`` (a
    job/metrics ``observe_*``) rides the merged rows.  Returns {'version',
    'rewritten_files', 'new_files', 'metrics'} (metrics None unobserved)."""
    from es_ch_sync_spark.io.sinks import merge_rows

    base = expected_base if expected_base is not None else current_version(table)
    affected = snapshot_files(table, base) if base is not None else []
    if where and affected:
        affected = prune_snapshot_files(table, affected, where, base)
    existing = (
        updates.sparkSession.read.parquet(*[os.path.join(table, f) for f in affected])
        if affected
        else None
    )
    merged, obs = merge_rows(updates, existing, key_cols), None
    if observe is not None:
        merged, obs = observe(merged)
    files = _commit_rewrite(table, base, "merge", merged, affected, stats_cols)
    return {
        "version": 0 if base is None else base + 1,
        "rewritten_files": len(affected),
        "new_files": len(files),
        "metrics": obs.get if obs is not None else None,
    }


def read_table_merged_schema(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot read with schema evolution: commits may add columns over
    time (immutable files keep their original schema); ``mergeSchema``
    unions the per-file schemas, nulling absent columns — the reader-side
    half of additive schema evolution.  ``where`` prunes via commit stats
    exactly like read_table (superset guarantee; stats-less files kept)."""
    files = snapshot_files(table, version)
    if not files:
        raise TxVersionError(f"{table} is empty at version {version}")
    if where:
        files = prune_snapshot_files(table, files, where, version)
        if not files:
            all_files = snapshot_files(table, version)
            return (
                spark.read.option("mergeSchema", "true")
                .parquet(*[os.path.join(table, f) for f in all_files])
                .limit(0)
            )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(table, f) for f in files])
    )


CHECKPOINT_EVERY = 16


def write_checkpoint(table: str) -> int | None:
    """Consolidate the current snapshot into ``_txlog/<v>.checkpoint.json``
    (the Delta checkpoint pattern): readers start replay from the latest
    checkpoint instead of version 0, bounding log-replay cost at
    O(CHECKPOINT_EVERY) entries regardless of table age.  Idempotent and
    race-free: the checkpoint is derived purely from committed entries
    ≤ v, so two writers checkpointing v write identical content."""
    v = current_version(table)
    if v is None:
        return None
    payload = {
        "version": v,
        "files": snapshot_files(table, v),
        "truncated_through": _truncated_through(table),
    }
    path = os.path.join(_log_path(table), f"{v:08d}.checkpoint.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)
    return v


def _truncated_through(table: str) -> int | None:
    best: int | None = None
    for v in _versions(table):
        e = _read_entry(table, v)
        if e["op"] == "truncate" and (best is None or e["through"] > best):
            best = e["through"]
    return best


def _latest_checkpoint(table: str) -> dict | None:
    d = _log_path(table)
    if not os.path.isdir(d):
        return None
    cps = sorted(f for f in os.listdir(d) if f.endswith(".checkpoint.json"))
    if not cps:
        return None
    with open(os.path.join(d, cps[-1])) as f:
        return json.load(f)


def snapshot_files_fast(table: str, version: int | None = None) -> list[str]:
    """snapshot_files, but replay starts from the newest checkpoint at or
    below the requested version.  Bit-identical result to the full replay
    (pinned by test); use for long-lived tables."""
    vs = _versions(table)
    if not vs:
        raise TxVersionError(f"{table} has no committed versions")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise TxVersionError(f"version {v} does not exist in {table}")
    cp = _latest_checkpoint(table)
    if cp is None or cp["version"] > v:
        return snapshot_files(table, v)
    tt = _truncated_through(table)
    if tt is not None and v <= tt:
        raise TxVersionError(
            f"version {v} of {table} was vacuum-truncated (history starts "
            f"after {tt})"
        )
    live = list(cp["files"])
    for ver in vs:
        if ver <= cp["version"] or ver > v:
            continue
        e = _read_entry(table, ver)
        if e["op"] == "truncate":
            continue
        for r in e.get("remove", []):
            if r in live:
                live.remove(r)
        live.extend(e.get("add", []))
    return live
