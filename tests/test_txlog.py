"""Tests for io/txlog.py — the mini log-structured table format."""

from __future__ import annotations

import os

import pytest

from es_ch_sync_spark.io import txlog as tx


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS x")


def _ids(spark, table, version=None):
    return sorted(
        r.id for r in tx.read_table(spark, table, version).collect()
    )


def test_append_and_read(spark, tmp_path):
    t = str(tmp_path / "t")
    assert tx.txlog_append(_df(spark, 0, 5), t) == 0
    assert tx.txlog_append(_df(spark, 5, 8), t) == 1
    assert _ids(spark, t) == list(range(8))
    assert _ids(spark, t, version=0) == list(range(5))  # time travel


def test_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 5), t)
    v = tx.txlog_overwrite(_df(spark, 100, 103), t)
    assert v == 1
    assert _ids(spark, t) == [100, 101, 102]
    assert _ids(spark, t, version=0) == list(range(5))
    hist = tx.table_history(t)
    assert [h["op"] for h in hist] == ["append", "overwrite"]
    assert hist[1]["n_removed"] > 0


def test_overwrite_conflict_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 5), t)
    base = tx.current_version(t)  # this writer derives its output from v0
    # a second writer commits v1 after that base snapshot was read
    assert tx._try_commit(t, 1, {"op": "append", "add": [], "remove": []})
    with pytest.raises(tx.TxConflictError):
        tx.txlog_overwrite(_df(spark, 100, 103), t, expected_base=base)
    # the loser's data files are orphans, invisible to readers...
    assert _ids(spark, t) == list(range(5))
    # ...and reclaimable
    assert tx.vacuum_orphans(t) > 0
    assert _ids(spark, t) == list(range(5))


def test_append_retries_past_conflict(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 3), t)
    assert tx._try_commit(t, 1, {"op": "append", "add": [], "remove": []})
    # append loses the race for v1 but retries and lands at v2
    assert tx.txlog_append(_df(spark, 3, 6), t) == 2
    assert _ids(spark, t) == list(range(6))


def test_crash_before_commit_is_invisible(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 4), t)
    # simulate a writer that crashed after writing data, before the log
    tx._write_data_files(_df(spark, 900, 950), t)
    assert _ids(spark, t) == list(range(4))
    removed = tx.vacuum_orphans(t)
    assert removed >= 1
    assert _ids(spark, t) == list(range(4))


def test_vacuum_truncates_history_loudly(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 4), t)        # v0
    tx.txlog_overwrite(_df(spark, 10, 14), t)   # v1
    tx.txlog_overwrite(_df(spark, 20, 24), t)   # v2
    res = tx.vacuum(t, keep_versions=1)
    assert res["horizon"] == 2 and res["deleted"] > 0
    assert _ids(spark, t) == [20, 21, 22, 23]   # latest unaffected
    with pytest.raises(tx.TxVersionError):
        tx.read_table(spark, t, version=0)      # truncated, fails loudly
    with pytest.raises(tx.TxVersionError):
        tx.read_table(spark, t, version=1)


def test_snapshot_isolation_under_concurrent_append(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 5), t)
    pinned = tx.snapshot_files(t, 0)
    tx.txlog_append(_df(spark, 5, 9), t)  # concurrent writer commits
    # the pinned snapshot still resolves to the same immutable files
    assert tx.snapshot_files(t, 0) == pinned
    assert all(os.path.exists(os.path.join(t, f)) for f in pinned)
    assert _ids(spark, t, version=0) == list(range(5))


def _signals(spark, lo, hi):
    """Signal rows with token_id ``lo..hi-1``, a minute apart."""
    return spark.range(lo, hi).selectExpr(
        "id AS token_id",
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, id) AS timestamp",
        "'speed' AS name", "'r1' AS source", "double(id * 2) AS value_number",
        "CAST(NULL AS STRING) AS value_string",
    )


def _tokens(spark, table):
    return sorted(r.token_id for r in tx.read_table(spark, table).collect())


def test_streaming_sink_exactly_once(spark, tmp_path):
    """The streaming sink's micro-batch write (sync_stream.merge_batch →
    write_signals) merges each batch over its own time range, so a batch
    the engine redelivers after a crash, with the same id, lands once."""
    from es_ch_sync_spark.streaming.sync_stream import merge_batch

    t = str(tmp_path / "t")
    write = merge_batch(t, "txlog")
    write(_signals(spark, 0, 3), 0)
    write(_signals(spark, 3, 6), 1)
    before = sorted(map(tuple, tx.read_table(spark, t).collect()))
    write(_signals(spark, 3, 6), 1)  # replay: must change no row
    assert sorted(map(tuple, tx.read_table(spark, t).collect())) == before
    assert _tokens(spark, t) == list(range(6))
    write(_signals(spark, 0, 0), 2)  # empty: no commit
    assert [h["op"] for h in tx.table_history(t)] == ["merge"] * 3


def test_streaming_sink_end_to_end(spark, tmp_path):
    from es_ch_sync_spark.streaming.sync_stream import start_signal_stream
    from es_ch_sync_spark.streaming.util import drain

    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _signals(spark, 0, 10).write.parquet(src)
    schema = spark.read.parquet(src).schema
    drain(start_signal_stream(spark.readStream.schema(schema).parquet(src), t, ckpt, "txlog"), 120)
    assert _tokens(spark, t) == list(range(10))
    # restart from the same checkpoint with no new data: no new commits
    n_before = len(tx.table_history(t))
    drain(start_signal_stream(spark.readStream.schema(schema).parquet(src), t, ckpt, "txlog"), 120)
    assert len(tx.table_history(t)) == n_before
    assert _tokens(spark, t) == list(range(10))


def test_merge_upsert_and_lost_update_protection(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 5), t)  # x = id * 2
    updates = spark.createDataFrame(
        [(3, 999), (4, 888), (100, 777)], "id long, x long"
    )
    tx.txlog_merge(updates, t, ["id"])
    got = {r.id: r.x for r in tx.read_table(spark, t).collect()}
    assert got == {0: 0, 1: 2, 2: 4, 3: 999, 4: 888, 100: 777}
    # lost-update protection: interloper commits between read and write
    base = tx.current_version(t)
    assert tx._try_commit(
        t, base + 1, {"op": "append", "add": [], "remove": []}
    )
    with pytest.raises(tx.TxConflictError):
        tx.txlog_merge(updates, t, ["id"], expected_base=base)


def test_schema_evolution_merged_read(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 3), t)  # (id, x)
    wide = spark.createDataFrame([(10, 20, "new")], "id long, x long, tag string")
    tx.txlog_append(wide, t)
    df = tx.read_table_merged_schema(spark, t)
    assert set(df.columns) == {"id", "x", "tag"}
    rows = {r.id: r.tag for r in df.collect()}
    assert rows[10] == "new" and rows[0] is None


def test_checkpoint_replay_bit_identical(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 3), t)
    tx.txlog_append(_df(spark, 3, 6), t)
    cp_v = tx.write_checkpoint(t)          # checkpoint at v1
    tx.txlog_append(_df(spark, 6, 9), t)   # commits after the checkpoint
    tx.txlog_overwrite(_df(spark, 50, 53), t)
    assert cp_v == 1
    for v in (1, 2, 3, None):
        assert tx.snapshot_files_fast(t, v) == tx.snapshot_files(t, v)
    # a version below the checkpoint falls back to the full replay
    assert tx.snapshot_files_fast(t, 0) == tx.snapshot_files(t, 0)
    # checkpoint + truncate interact correctly
    tx.vacuum(t, keep_versions=1)
    tx.write_checkpoint(t)
    with pytest.raises(tx.TxVersionError):
        tx.snapshot_files_fast(t, 1)


# ---------------------------------------------------------------------------
# io/ivm.py — incremental materialized-view maintenance
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from es_ch_sync_spark.io import ivm  # noqa: E402


def _vals(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS grp", "CAST(id AS DOUBLE) / 7 AS v"
    )


def _finalized(spark, view):
    return {
        r["grp"]: (r["n_rows"], r["sum_value"], r["avg_value"])
        for r in ivm.read_rollup_view(spark, view).collect()
    }


def test_ivm_delta_equals_full_recompute(spark, tmp_path):
    fact = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    ranges = [(0, 40), (40, 90), (90, 91), (91, 200)]
    modes = []
    for lo, hi in ranges:
        tx.txlog_append(_vals(spark, lo, hi), fact)
        modes.append(
            ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")["mode"]
        )
    assert modes == ["full", "delta", "delta", "delta"]
    # bit-identical to a one-shot rebuild of the same snapshot
    fresh = str(tmp_path / "view_fresh")
    ivm.refresh_rollup_view(spark, fact, fresh, ["grp"], "v")
    assert _finalized(spark, view) == _finalized(spark, fresh)


def test_ivm_noop_when_current(spark, tmp_path):
    fact = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    tx.txlog_append(_vals(spark, 0, 10), fact)
    ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")
    v_before = tx.current_version(view)
    info = ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")
    assert info["mode"] == "noop"
    assert tx.current_version(view) == v_before  # no empty commit


def test_ivm_non_append_range_falls_back_to_full(spark, tmp_path):
    fact = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    tx.txlog_append(_vals(spark, 0, 50), fact)
    ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")
    # an overwrite invalidates the view's base state — delta must refuse
    tx.txlog_overwrite(_vals(spark, 1000, 1020), fact)
    with pytest.raises(ivm.NonAppendDeltaError):
        ivm.added_files_between(fact, 0, tx.current_version(fact))
    info = ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")
    assert info["mode"] == "full"
    fresh = str(tmp_path / "view_fresh")
    ivm.refresh_rollup_view(spark, fact, fresh, ["grp"], "v")
    assert _finalized(spark, view) == _finalized(spark, fresh)


def test_ivm_stale_refresher_conflicts(spark, tmp_path):
    """A refresher racing a committed view overwrite must raise, not
    double-apply its delta (WriteSerializable via expected_base)."""
    fact = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    tx.txlog_append(_vals(spark, 0, 30), fact)
    ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")
    tx.txlog_append(_vals(spark, 30, 60), fact)
    # another maintainer lands first
    ivm.refresh_rollup_view(spark, fact, view, ["grp"], "v")
    # replay the same refresh from the pre-race view version
    with pytest.raises(tx.TxConflictError):
        tx.txlog_overwrite(
            _vals(spark, 0, 1).selectExpr("grp", "id AS n_rows", "CAST(v AS DECIMAL(24,4)) AS sum_value"),
            view,
            expected_base=0,
        )


# ---------------------------------------------------------------------------
# Commit-recorded footer stats + manifest pruning on the read path (r4 #7)
# ---------------------------------------------------------------------------


def _ts_df(spark, day_lo, day_hi):
    from pyspark.sql import functions as F

    return (
        spark.range(day_lo * 10, day_hi * 10)
        .selectExpr("id")
        .withColumn(
            "ts",
            F.to_timestamp(
                F.concat(
                    F.lit("2024-01-"),
                    F.lpad((F.col("id") / 10).cast("int").cast("string"), 2, "0"),
                    F.lit(" 06:00:00"),
                )
            ),
        )
    )


def test_stats_recorded_at_commit_and_pruned_read(spark, tmp_path):
    """Three commits with disjoint time ranges: a bounded-time read opens
    ONLY the in-range files — including at an old version (time travel),
    which directory-partition pruning cannot serve."""
    import datetime

    t = str(tmp_path / "t")
    tx.txlog_append(_ts_df(spark, 1, 4), t, stats_cols=["ts", "id"])
    tx.txlog_append(_ts_df(spark, 4, 7), t, stats_cols=["ts", "id"])
    tx.txlog_append(_ts_df(spark, 7, 9), t, stats_cols=["ts", "id"])

    all_files = tx.snapshot_files(t)
    stats = tx.snapshot_stats(t)
    assert stats, "commit must record footer stats"
    assert all(any(f in stats for f in e) for e in [all_files])

    lo = datetime.datetime(2024, 1, 4)
    hi = datetime.datetime(2024, 1, 7)
    where = [("ts", ">=", lo), ("ts", "<", hi)]
    pruned = tx.read_table(spark, t, where=where)
    assert len(pruned.inputFiles()) < len(all_files)
    # correctness: pruned read + real filter == unpruned read + real filter
    from pyspark.sql import functions as F

    cond = (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    want = sorted(r.id for r in tx.read_table(spark, t).filter(cond).collect())
    got = sorted(r.id for r in pruned.filter(cond).collect())
    assert got == want and len(got) == 30

    # time travel honors the stats its version was committed with
    old = tx.read_table(spark, t, version=1, where=[("ts", "<", lo)])
    assert len(old.inputFiles()) < len(tx.snapshot_files(t, 1))
    got_old = sorted(r.id for r in old.filter(F.col("ts") < F.lit(lo)).collect())
    assert got_old == list(range(10, 40))


def test_stats_pruning_numeric_and_empty_result(spark, tmp_path):
    """Numeric bounds prune typed (not lexicographic); a predicate outside
    every file's range yields an empty frame with the right schema."""
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 100, 200), t, stats_cols=["id"])
    tx.txlog_append(_df(spark, 200, 300), t, stats_cols=["id"])
    # '20' > '150' lexicographically — typed compare must keep both files
    full = tx.read_table(spark, t, where=[("id", ">", 20)])
    assert len(full.inputFiles()) == len(tx.snapshot_files(t))
    sub = tx.read_table(spark, t, where=[("id", ">=", 250)])
    assert len(sub.inputFiles()) < len(full.inputFiles())
    empty = tx.read_table(spark, t, where=[("id", ">", 10_000)])
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "x"}


def test_stats_absent_files_are_kept(spark, tmp_path):
    """Commits made without stats_cols are never pruned (conservative):
    mixing stats-less and stats-bearing commits stays correct."""
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 50), t)  # no stats recorded
    tx.txlog_append(_df(spark, 50, 100), t, stats_cols=["id"])
    got = tx.read_table(spark, t, where=[("id", "<", 10)])
    # the stats-less commit's files must all still be open
    assert sorted(r.id for r in got.filter("id < 10").collect()) == list(range(10))


def test_concurrent_appends_serialize_without_loss(spark, tmp_path):
    """8 threads × 3 appends racing the O_EXCL commit protocol: every
    commit must land at a unique version and every row must be readable —
    the optimistic-concurrency claim under actual contention."""
    from concurrent.futures import ThreadPoolExecutor

    t = str(tmp_path / "t")
    # pre-build the 24 frames so the race is on COMMIT, not planning
    frames = [
        spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 3 AS x")
        for i in range(24)
    ]

    def appender(df):
        return tx.txlog_append(df, t, max_retries=100)

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(appender, frames))

    assert sorted(versions) == list(range(24))  # every version unique+dense
    got = sorted(r.id for r in tx.read_table(spark, t).collect())
    assert got == list(range(240))  # no commit lost, no rows doubled
    assert [h["op"] for h in tx.table_history(t)] == ["append"] * 24


def test_stats_pruning_refuses_string_value_on_timestamp_column(spark, tmp_path):
    """A STRING predicate value against timestamp-recorded stats must not
    prune: the two sides can carry different textual formats ('2024-01-04
    23:59:59' vs '2024-01-04T00:00:00+00:00') and a lexicographic compare
    would wrongly drop a matching file (' ' < 'T') — ADVICE r5.  Pruning
    stays a superset guarantee: every file is kept for string-typed time
    predicates, while genuine string columns still prune."""
    t = str(tmp_path / "t")
    tx.txlog_append(_ts_df(spark, 1, 4), t, stats_cols=["ts", "id"])
    tx.txlog_append(_ts_df(spark, 4, 7), t, stats_cols=["ts", "id"])
    n = len(tx.snapshot_files(t))
    # mixed-format string vs recorded ISO timestamps: refuse to prune
    kept = tx.prune_snapshot_files(
        t, tx.snapshot_files(t), [("ts", "<", "2024-01-04 23:59:59")]
    )
    assert len(kept) == n
    kept2 = tx.prune_snapshot_files(
        t, tx.snapshot_files(t), [("ts", ">", "2024-01-09")]
    )
    assert len(kept2) == n


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    """OPTIMIZE bin-packing: N small appends -> one compact commit with
    fewer files and bit-identical rows; time travel below the compaction
    still replays the original small files; recomputed stats keep
    bounded-read pruning working on the packed layout."""
    import datetime

    t = str(tmp_path / "t")
    for d in range(1, 6):
        tx.txlog_append(_ts_df(spark, d, d + 1), t, stats_cols=["ts", "id"])
    pre_files = tx.snapshot_files(t)
    pre_ids = _ids(spark, t)
    assert len(pre_files) >= 5

    res = tx.txlog_compact(spark, t, target_file_bytes=1 << 30,
                           stats_cols=["ts", "id"])
    assert res["compacted_files"] == len(pre_files) and res["new_files"] >= 1
    post_files = tx.snapshot_files(t)
    assert len(post_files) < len(pre_files)
    assert _ids(spark, t) == pre_ids
    # fast (checkpointed) replay agrees on the compacted snapshot
    assert sorted(tx.snapshot_files_fast(t)) == sorted(post_files)

    # time travel: the pre-compaction version replays the small files
    assert sorted(tx.snapshot_files(t, res["version"] - 1)) == sorted(pre_files)
    assert _ids(spark, t, res["version"] - 1) == pre_ids

    # stats pruning still effective on the packed files
    lo = datetime.datetime(2024, 1, 3)
    pruned = tx.prune_snapshot_files(t, post_files, [("ts", "<", lo)])
    # all rows < Jan 3 live in a subset of the packed files only when the
    # pack produced >1 file; with one packed file pruning keeps it — the
    # invariant under test is SUPERSET correctness, not selectivity
    from pyspark.sql import functions as F

    want = sorted(
        r.id for r in tx.read_table(spark, t).filter(F.col("ts") < F.lit(lo)).collect()
    )
    got = sorted(
        r.id
        for r in spark.read.parquet(*[os.path.join(t, f) for f in pruned])
        .filter(F.col("ts") < F.lit(lo))
        .collect()
    )
    assert got == want

    # already-compacted table: everything right-sized -> no-op, no commit
    v = tx.current_version(t)
    res2 = tx.txlog_compact(spark, t, target_file_bytes=1 << 30)
    assert res2["compacted_files"] == 0 and tx.current_version(t) == v


def test_compaction_conflict_is_loud_and_clean(spark, tmp_path):
    """A compaction computed against a stale base must raise (strict
    WriteSerializable, same rule as overwrite) AND remove its own
    uncommitted packed files — no orphan residue."""
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 5), t)
    tx.txlog_append(_df(spark, 5, 9), t)
    base = tx.current_version(t)
    tx.txlog_append(_df(spark, 9, 12), t)  # another writer wins the race
    with pytest.raises(tx.TxConflictError):
        tx.txlog_compact(spark, t, target_file_bytes=1 << 30,
                         expected_base=base)
    assert tx.vacuum_orphans(t) == 0  # loser cleaned up after itself
    assert _ids(spark, t) == list(range(12))


def test_compaction_with_sort_by_clusters_for_pruning(spark, tmp_path):
    """sort_by compaction range-clusters the packed files, so each covers
    a disjoint time slice and a bounded read opens ONLY the in-range
    packed file — the OPTIMIZE+cluster layout repair in one commit."""
    import datetime

    t = str(tmp_path / "t")
    # interleaved commits: every small file spans the whole time range,
    # so pre-compaction stats pruning is useless by construction
    for m in range(3):
        tx.txlog_append(
            _ts_df(spark, 1, 9).filter(f"id % 3 = {m}").coalesce(1), t,
            stats_cols=["ts"],
        )
    lo = datetime.datetime(2024, 1, 3)
    where = [("ts", "<", lo)]
    assert len(tx.prune_snapshot_files(t, tx.snapshot_files(t), where)) == 3

    res = tx.txlog_compact(
        spark, t, target_file_bytes=2_000, small_file_bytes=1 << 20,
        stats_cols=["ts"], sort_by=["ts"],
    )
    assert res["new_files"] >= 2
    pruned = tx.prune_snapshot_files(t, tx.snapshot_files(t), where)
    assert len(pruned) < res["new_files"], (len(pruned), res["new_files"])
    # rows unchanged
    from pyspark.sql import functions as F

    got = sorted(
        r.id for r in tx.read_table(spark, t, where=where)
        .filter(F.col("ts") < F.lit(lo)).collect()
    )
    assert got == list(range(10, 30))


def test_delete_rewrites_only_pruned_files(spark, tmp_path):
    """Copy-on-write DELETE: stats-disjoint files survive untouched (same
    physical paths), only the pruned superset is rewritten minus the
    matching rows; time travel still sees the deleted rows; a provably-
    no-match delete commits nothing; a stale-base delete raises and
    cleans up."""
    import datetime

    t = str(tmp_path / "t")
    for d in (1, 4, 7):
        tx.txlog_append(
            _ts_df(spark, d, d + 3).coalesce(1), t, stats_cols=["ts", "id"]
        )
    before_files = set(tx.snapshot_files(t))
    all_ids = _ids(spark, t)

    lo = datetime.datetime(2024, 1, 4)
    hi = datetime.datetime(2024, 1, 7)
    res = tx.txlog_delete(
        spark, t, [("ts", ">=", lo), ("ts", "<", hi)], stats_cols=["ts", "id"]
    )
    assert res["rewritten_files"] == 1 and res["deleted_rows"] == 30
    after_files = set(tx.snapshot_files(t))
    # the two disjoint files are the SAME physical files (not rewritten)
    assert len(before_files & after_files) == 2
    assert _ids(spark, t) == [i for i in all_ids if not (40 <= i < 70)]
    # time travel below the delete sees everything
    assert _ids(spark, t, res["version"] - 1) == all_ids

    # no file can contain 2023 rows: no-op, no commit
    v = tx.current_version(t)
    res2 = tx.txlog_delete(
        spark, t, [("ts", "<", datetime.datetime(2023, 1, 1))]
    )
    assert res2["rewritten_files"] == 0 and tx.current_version(t) == v

    # stale base: loud conflict, no orphan residue
    base = tx.current_version(t)
    tx.txlog_append(_ts_df(spark, 20, 21).coalesce(1), t, stats_cols=["ts"])
    with pytest.raises(tx.TxConflictError):
        tx.txlog_delete(spark, t, [("id", ">=", 0)], expected_base=base)
    assert tx.vacuum_orphans(t) == 0


def test_delete_whole_table_leaves_empty_snapshot(spark, tmp_path):
    t = str(tmp_path / "t")
    tx.txlog_append(_df(spark, 0, 5).coalesce(1), t, stats_cols=["id"])
    res = tx.txlog_delete(spark, t, [("id", ">=", 0)])
    assert res["deleted_rows"] == 5 and res["new_files"] == 0
    assert tx.snapshot_files(t) == []


def test_update_rewrites_only_pruned_files(spark, tmp_path):
    """Copy-on-write UPDATE: disjoint files untouched, matching rows get
    the set-expression, others copied verbatim; time travel sees the
    pre-update values."""
    t = str(tmp_path / "t")
    for lo in (0, 100, 200):
        tx.txlog_append(
            _df(spark, lo, lo + 50).coalesce(1), t, stats_cols=["id"]
        )
    before = set(tx.snapshot_files(t))
    res = tx.txlog_update(
        spark, t, [("id", ">=", 100), ("id", "<", 110)],
        {"x": "x + 1000"}, stats_cols=["id"],
    )
    assert res["rewritten_files"] == 1 and res["updated_rows"] == 10
    after = set(tx.snapshot_files(t))
    assert len(before & after) == 2
    got = {r.id: r.x for r in tx.read_table(spark, t).collect()}
    assert got[100] == 1200 and got[105] == 1210 and got[110] == 220
    assert got[0] == 0 and got[249] == 498
    old = {r.id: r.x for r in
           tx.read_table(spark, t, version=res["version"] - 1).collect()}
    assert old[100] == 200  # pre-update value still served by time travel
