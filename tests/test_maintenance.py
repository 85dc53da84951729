"""Tests for the sink's merge (MERGE analog: write_signals re-writing a
window), compaction, and v2-payload dispatch."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_ch_sync_spark.io.maintenance import compact_partition, table_file_stats
from es_ch_sync_spark.io.sinks import write_signals

SIG_SCHEMA = T.StructType(
    [
        T.StructField("token_id", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("name", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("value_number", T.DoubleType()),
        T.StructField("value_string", T.StringType()),
    ]
)

D1 = datetime(2024, 1, 1, 10, tzinfo=timezone.utc)
D2 = datetime(2024, 1, 2, 10, tzinfo=timezone.utc)
DAY = timedelta(days=1)
W1 = (datetime(2024, 1, 1, tzinfo=timezone.utc), datetime(2024, 1, 2, tzinfo=timezone.utc))
W2 = (W1[1], W1[1] + DAY)
W12 = (W1[0], W2[1])


def _sig(tok, ts, name, num):
    return (tok, ts, name, "s", float(num), None)


def test_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "sig")
    base = [_sig(1, D1, "speed", 10), _sig(1, D2, "speed", 20), _sig(2, D2, "speed", 30)]
    write_signals(spark.createDataFrame(base, SIG_SCHEMA), path, W12)

    updates = [
        _sig(1, D2, "speed", 99),  # matched → update (same key, new value)
        _sig(3, D2, "speed", 40),  # not matched → insert
    ]
    write_signals(spark.createDataFrame(updates, SIG_SCHEMA), path, W2)

    got = spark.read.parquet(path)
    assert got.count() == 4
    updated = got.filter((F.col("token_id") == 1) & (F.col("timestamp") == D2)).collect()
    assert len(updated) == 1 and updated[0]["value_number"] == 99.0
    # untouched partition (D1) kept intact
    assert got.filter(F.col("token_id") == 1).filter(F.col("value_number") == 10.0).count() == 1


def test_upsert_conflicting_updates_keep_the_sink_winner(spark, tmp_path):
    """Conflicting rows for one key inside one update batch resolve to
    the sink's deterministic winner (io/sinks.dedup_signals, min(struct)),
    whether the batch arrives in 1 partition or 8 (dropDuplicates kept
    whichever row came first)."""
    from es_ch_sync_spark.io.sinks import dedup_signals

    rows = [
        (1, D2, "speed", src, float(v), None)
        for src, v in [("b", 5), ("c", 1), ("a", 7), ("b", 2), ("a", 3)]
    ] + [_sig(2, D2, "speed", 4)]
    winners = []
    for parts in (1, 8):
        path = str(tmp_path / f"sig{parts}")
        write_signals(spark.createDataFrame([_sig(1, D1, "speed", 10)], SIG_SCHEMA), path, W1)
        updates = spark.createDataFrame(rows, SIG_SCHEMA).repartition(parts)
        write_signals(updates, path, W2)
        got = spark.read.parquet(path).drop("event_date")
        assert got.count() == 3
        (row,) = got.filter(
            (F.col("token_id") == 1) & (F.col("timestamp") == D2)
        ).collect()
        winners.append(tuple(row))
    (want,) = (
        dedup_signals(spark.createDataFrame(rows, SIG_SCHEMA))
        .filter(F.col("token_id") == 1)
        .collect()
    )
    assert winners[0] == winners[1] == tuple(want)
    assert tuple(want)[3:5] == ("a", 3.0)


def test_upsert_touches_only_update_partitions(spark, tmp_path):
    path = str(tmp_path / "sig")
    base = [_sig(1, D1, "speed", 10), _sig(1, D2, "speed", 20)]
    write_signals(spark.createDataFrame(base, SIG_SCHEMA), path, W12)
    import os

    d1_dir = f"{path}/event_date=2024-01-01"
    before = {f: os.path.getmtime(f"{d1_dir}/{f}") for f in os.listdir(d1_dir)}
    write_signals(spark.createDataFrame([_sig(9, D2, "speed", 1)], SIG_SCHEMA), path, W2)
    after = {f: os.path.getmtime(f"{d1_dir}/{f}") for f in os.listdir(d1_dir)}
    assert before == after  # the merge never read or rewrote the D1 partition


def test_upsert_idempotent_three_merges_and_audit_clean(spark, tmp_path):
    """ReplacingMergeTree absorption property: re-merging the same batch is
    a no-op.  Three consecutive merges must leave the table bit-identical,
    with the conflict audit empty after each one."""
    from es_ch_sync_spark.io.maintenance import audit_key_conflicts

    path = str(tmp_path / "sig")
    base = [_sig(1, D1, "speed", 10), _sig(1, D2, "speed", 20), _sig(2, D2, "speed", 30)]
    write_signals(spark.createDataFrame(base, SIG_SCHEMA), path, W12)
    updates = spark.createDataFrame(
        [_sig(1, D2, "speed", 99), _sig(3, D2, "speed", 40)], SIG_SCHEMA
    )

    def snapshot():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(path)
            .drop("event_date")
            .collect()
        )

    states = []
    for _ in range(3):
        write_signals(updates, path, W2)
        states.append(snapshot())
        assert audit_key_conflicts(spark.read.parquet(path)).count() == 0

    assert states[0] == states[1] == states[2]
    assert len(states[0]) == 4  # 2 kept + 1 updated + 1 inserted


def test_stage_and_swap_leaves_no_staging_dirs(spark, tmp_path):
    """After a successful merge no staging/trash remnants survive next to
    the table, and the table stays readable mid-workflow."""
    import os

    path = str(tmp_path / "sig")
    base = [_sig(1, D1, "speed", 10), _sig(1, D2, "speed", 20)]
    write_signals(spark.createDataFrame(base, SIG_SCHEMA), path, W12)
    write_signals(spark.createDataFrame([_sig(9, D2, "speed", 1)], SIG_SCHEMA), path, W2)
    siblings = os.listdir(str(tmp_path))
    assert not any("__staging__" in s for s in siblings)
    assert not any("__old__" in e for e in os.listdir(path))
    assert spark.read.parquet(path).count() == 3


def test_compaction_reduces_files(spark, tmp_path):
    path = str(tmp_path / "sig")
    rows = [_sig(i % 5, D1 + timedelta(seconds=i), "speed", i) for i in range(200)]
    df = spark.createDataFrame(rows, SIG_SCHEMA).withColumn("event_date", F.to_date("timestamp"))
    # deliberately fragment: many small files in one partition
    df.repartition(16).write.mode("overwrite").partitionBy("event_date").parquet(path)

    stats = {r["event_date"].isoformat(): r["n_files"] for r in table_file_stats(spark, path).collect()}
    assert stats["2024-01-01"] > 1

    compact_partition(spark, path, "2024-01-01", target_files=1)
    stats2 = table_file_stats(spark, path).collect()
    assert stats2[0]["n_files"] == 1
    assert stats2[0]["n_rows"] == 200  # lossless


def test_v2_payload_dispatch(spark):
    """Documents with a non-null dataschema take the v2 catalog path
    (sync.go:190-204 dispatch), others the v1 path."""
    from es_ch_sync_spark.catalog import SignalCatalog, SignalDef
    from es_ch_sync_spark.job.sync import SyncOptions, plan_sync

    schema = T.StructType(
        [
            T.StructField("subject", T.StringType()),
            T.StructField("dataschema", T.StringType()),
            T.StructField("time", T.TimestampType()),
            T.StructField("source", T.StringType()),
            T.StructField("data_speed", T.LongType()),
        ]
    )
    rows = [
        ("1", None, D1, "s", 50),  # v1
        ("1", "v2.0", D2, "s", 50),  # v2
    ]
    df = spark.createDataFrame(rows, schema)
    v1 = SignalCatalog([SignalDef("speed", "data_speed", "number")])
    v2 = SignalCatalog([SignalDef("speed_kmh", "data_speed", "number", "mph_to_kmh")])
    opts = SyncOptions(start_time=D1 - timedelta(days=1), stop_time=D2 + timedelta(days=1))
    signals, _ = plan_sync(df, v1, None, opts, catalog_v2=v2)
    got = {(r["name"], round(r["value_number"], 3)) for r in signals.collect()}
    assert got == {("speed", 50.0), ("speed_kmh", round(50 * 1.609344, 3))}


def test_merge_resume_points_equals_recompute(spark):
    """CDC summary maintenance: folding per-batch (min,max) summaries
    batch-by-batch converges to the full-table recompute, regardless of
    how rows are split into batches."""
    from es_ch_sync_spark.operators.maintenance import merge_resume_points, resume_points

    rows = [
        _sig(t, D1 + timedelta(hours=h), "speed", h)
        for t in (1, 2, 3)
        for h in (0, 5, 2, 9, 7)
    ]
    full = spark.createDataFrame(rows, SIG_SCHEMA)

    summary = None
    for chunk in range(4):  # uneven batches; every token spans several
        batch = full.filter((F.hour("timestamp") + F.col("token_id")) % 4 == chunk)
        summary = merge_resume_points(summary, resume_points(batch))

    expect = {(r["token_id"], r["min_ts"], r["max_ts"]) for r in resume_points(full).collect()}
    got = {(r["token_id"], r["min_ts"], r["max_ts"]) for r in summary.collect()}
    assert got == expect


def test_retention_vacuum_drops_only_aged_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from es_ch_sync_spark.io.maintenance import retention_vacuum

    path = str(tmp_path / "signals")
    df = spark.range(100).select(
        F.col("id").alias("v"),
        F.concat(
            F.lit("2020-01-0"), ((F.col("id") % 5) + 1).cast("string")
        ).alias("event_date"),
    )
    df.write.partitionBy("event_date").parquet(path)
    dropped = retention_vacuum(path, keep_min_value="2020-01-03")
    assert dropped == ["2020-01-01", "2020-01-02"]
    left = spark.read.parquet(path)
    # partition values come back type-inferred as dates
    assert {
        str(r["event_date"]) for r in left.select("event_date").distinct().collect()
    } == {"2020-01-03", "2020-01-04", "2020-01-05"}
    assert left.count() == 60
    # idempotent: nothing below the cutoff remains
    assert retention_vacuum(path, keep_min_value="2020-01-03") == []


def test_second_writer_detected(spark, tmp_path):
    """While writer A holds the lock, writer B must fail loudly naming the
    holder — never interleave with A's swap."""
    import pytest

    from es_ch_sync_spark.io import maintenance as M

    path = str(tmp_path / "sig")
    write_signals(spark.createDataFrame([_sig(1, D1, "speed", 10)], SIG_SCHEMA), path, W1)
    M._acquire_lock(path, "writer-A")
    updates = spark.createDataFrame([_sig(1, D1, "speed", 99)], SIG_SCHEMA)
    with pytest.raises(M.ConcurrentWriteError, match="another writer holds"):
        write_signals(updates, path, W1)
    # table untouched by the refused writer
    assert spark.read.parquet(path).collect()[0]["value_number"] == 10.0
    M._release_lock(path, "writer-A")
    write_signals(updates, path, W1)
    assert spark.read.parquet(path).collect()[0]["value_number"] == 99.0


def test_crash_between_stage_and_swap_detected_and_recovered(spark, tmp_path, monkeypatch):
    """A crash after staging but before the swap leaves manifest
    state=staging; the next writer refuses to build on the torn table,
    recover_interrupted_write cleans the debris, and a re-run converges
    with a conflict-free audit and an advanced epoch."""
    import os as _os

    import pytest

    from es_ch_sync_spark.io import maintenance as M
    from es_ch_sync_spark.io.maintenance import audit_key_conflicts, recover_interrupted_write

    path = str(tmp_path / "sig")
    base = [_sig(1, D1, "speed", 10), _sig(1, D2, "speed", 20)]
    write_signals(spark.createDataFrame(base, SIG_SCHEMA), path, W12)

    updates = spark.createDataFrame([_sig(1, D2, "speed", 99)], SIG_SCHEMA)
    real_rename = _os.rename

    def crash_on_swap(src, dst):  # first destructive rename = the crash point
        raise OSError("simulated crash mid-swap")

    monkeypatch.setattr(_os, "rename", crash_on_swap)
    with pytest.raises(OSError, match="simulated crash"):
        write_signals(updates, path, W2)
    monkeypatch.setattr(_os, "rename", real_rename)

    # old data fully intact (the swap never deletes before replacing)
    got = {(r["token_id"], r["timestamp"].replace(tzinfo=timezone.utc)): r["value_number"]
           for r in spark.read.parquet(path).collect()}
    assert got[(1, D2)] == 20.0
    assert M._read_manifest(path)["state"] == "staging"

    # next writer refuses the torn table
    with pytest.raises(M.ConcurrentWriteError, match="recover_interrupted_write"):
        write_signals(updates, path, W2)

    summary = recover_interrupted_write(path)
    assert summary["manifest_reset"] is True
    assert not _os.path.exists(_os.path.join(path, M.LOCK_FILE))

    write_signals(updates, path, W2)
    final = spark.read.parquet(path)
    assert {
        (r["token_id"], r["timestamp"].replace(tzinfo=timezone.utc)): r["value_number"]
        for r in final.collect()
    }[(1, D2)] == 99.0
    assert audit_key_conflicts(final).count() == 0
    m = M._read_manifest(path)
    assert m["state"] == "committed" and m["epoch"] >= 2


def test_epoch_advances_per_commit(spark, tmp_path):
    from es_ch_sync_spark.io import maintenance as M

    path = str(tmp_path / "sig")
    # every write_signals is a stage-and-swap commit, the first one included
    write_signals(spark.createDataFrame([_sig(1, D1, "speed", 10)], SIG_SCHEMA), path, W1)
    assert M._read_manifest(path)["epoch"] == 1
    for i in range(2, 4):
        write_signals(spark.createDataFrame([_sig(1, D1, "speed", i)], SIG_SCHEMA), path, W1)
        m = M._read_manifest(path)
        assert m == {"epoch": i, "state": "committed", "writer": m["writer"]}


def test_merge_refuses_partitions_outside_its_window(spark, tmp_path):
    """A batch with a row outside its window would swap in a partition the
    merge never read, dropping that partition's other rows: the write
    raises before the first rename and the table stays byte-identical."""
    import hashlib
    import os

    import pytest

    path = str(tmp_path / "sig")
    base = [_sig(1, D1, "speed", 10), _sig(2, D2, "speed", 20)]
    write_signals(spark.createDataFrame(base, SIG_SCHEMA), path, W12)

    def tree():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = tree()
    batch = spark.createDataFrame([_sig(1, D1, "speed", 11), _sig(3, D2, "speed", 5)], SIG_SCHEMA)
    with pytest.raises(ValueError, match="outside the partitions"):
        write_signals(batch, path, W2)
    assert tree() == before
    assert not any("__staging__" in e for e in os.listdir(str(tmp_path)))


def test_seasonal_decompose_identity_and_edges(spark):
    """y = trend + seasonal + remainder wherever trend exists; the
    centered 7-point trend is null on the 3-row edges; a pure weekly
    signal lands (almost) entirely in the seasonal component."""
    import datetime

    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.analytics import seasonal_decompose

    rows = []
    for i in range(28):
        day = datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        rows.append(("s", day, 100 + (10 if i % 7 == 0 else 0)))
    df = spark.createDataFrame(rows, "k string, day date, y long")
    out = seasonal_decompose(df, key_col="k", value_col="y").orderBy("day")
    got = out.collect()
    assert len(got) == 28
    # edges: first/last 3 days have no full window
    assert all(r["trend"] is None for r in got[:3] + got[-3:])
    for r in got:
        if r["trend"] is not None:
            assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["remainder"])) < 1e-9
    # the spike phase carries the dominant positive seasonal
    spike = [r for r in got if r["day"].toordinal() % 7 == datetime.date(2024, 1, 1).toordinal() % 7]
    flat = [r for r in got if r not in spike]
    assert spike[0]["seasonal"] > max(r["seasonal"] for r in flat)


def test_rolling_corr_perfect_anti_and_null_edges(spark):
    """A perfectly linear pair gives corr == 1.0 (and -1.0 when one side
    is negated) once the window is full; rows before that are null, as is
    any window where either series is constant (zero variance)."""
    import datetime

    from es_ch_sync_spark.operators.analytics import rolling_corr

    rows = []
    for i in range(20):
        day = datetime.date(2024, 3, 1) + datetime.timedelta(days=i)
        rows.append(("up", day, float(i + 1), 2.0 * (i + 1) + 3.0))
        rows.append(("down", day, float(i + 1), -1.5 * (i + 1) + 40.0))
        rows.append(("flat", day, float(i + 1), 7.0))
    df = spark.createDataFrame(rows, "k string, day date, x double, y double")
    out = rolling_corr(df, key_col="k", order_col="day", x_col="x", y_col="y", window=14)
    got = {(r["k"], r["day"]): r["corr"] for r in out.collect()}
    d0 = datetime.date(2024, 3, 1)
    for i in range(20):
        day = d0 + datetime.timedelta(days=i)
        if i < 13:
            assert got[("up", day)] is None
        else:
            assert got[("up", day)] == 1.0
            assert got[("down", day)] == -1.0
        assert got[("flat", day)] is None  # zero variance in y


def test_ab_welch_matches_closed_form(spark):
    """Welch t / df from the operator equal the float closed form computed
    directly over the same samples."""
    import math

    from es_ch_sync_spark.operators.analytics import ab_welch_report

    a = [10.5, 11.0, 9.75, 12.25, 10.0, 11.5]
    b = [8.0, 9.5, 7.25, 8.75]
    rows = [("A", v) for v in a] + [("B", v) for v in b] + [("C", 99.0)]
    df = spark.createDataFrame(rows, "arm string, value double")
    out = ab_welch_report(df, group_col="arm", value_col="value", arm_a="A", arm_b="B")
    r = out.collect()[0]

    def mv(xs):
        n = len(xs)
        m = sum(xs) / n
        var = sum((x - m) ** 2 for x in xs) / (n - 1)
        return n, m, var

    na, ma, va = mv(a)
    nb, mb, vb = mv(b)
    vn_a, vn_b = va / na, vb / nb
    t = (ma - mb) / math.sqrt(vn_a + vn_b)
    dof = (vn_a + vn_b) ** 2 / (vn_a**2 / (na - 1) + vn_b**2 / (nb - 1))
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["mean_a"] - round(ma, 6)) < 1e-9
    assert abs(r["var_b"] - round(vb, 6)) < 1e-6
    assert abs(r["t_stat"] - round(t, 6)) < 1e-5
    assert abs(r["welch_df"] - round(dof, 4)) < 1e-3


def test_burst_detection_integer_predicate_and_gaps(spark):
    """Flat baseline then a spike → burst (σ=0 path via min_lift); the
    trailing frame is calendar days, so a gap day does not slide stale
    counts into the window; modest wiggle below 3σ is not flagged."""
    import datetime

    from es_ch_sync_spark.operators.analytics import burst_detection

    d0 = datetime.date(2024, 5, 1)
    rows = []
    # user 1: 5,5,5 then spike 50 (σ=0, lift 45) → burst on day 3
    for i, c in enumerate([5, 5, 5, 50]):
        rows.append((1, d0 + datetime.timedelta(days=i), c))
    # user 2: noisy 4..6 then 7 (z < 3) → never flagged
    for i, c in enumerate([4, 6, 5, 7]):
        rows.append((2, d0 + datetime.timedelta(days=i), c))
    # user 3: 9-day gap before the spike → trailing frame empty (n<3)
    for i, c in [(0, 5), (1, 5), (2, 5), (11, 50)]:
        rows.append((3, d0 + datetime.timedelta(days=i), c))
    daily = spark.createDataFrame(rows, "user_id long, day date, c long")
    out = burst_detection(daily, key_col="user_id", day_col="day", count_col="c")
    got = [(r["user_id"], r["day"], r["z_score"]) for r in out.collect()]
    assert got == [(1, d0 + datetime.timedelta(days=3), None)]


def test_cusum_prefix_identity_matches_recursion(spark):
    """The window formulation must equal Page's recursion computed in
    plain Python on the same series — including reset-to-zero stretches."""
    import datetime

    from es_ch_sync_spark.operators.analytics import cusum_changepoints

    series = [5, 5, 4, 6, 5, 9, 9, 9, 9, 2, 2, 9, 9]
    d0 = datetime.date(2024, 6, 1)
    rows = [(1, d0 + datetime.timedelta(days=i), c) for i, c in enumerate(series)]
    daily = spark.createDataFrame(rows, "k long, day date, c long")
    out = cusum_changepoints(daily, key_col="k", day_col="day", value_col="c",
                             slack=1, threshold=3)
    got = {r["day"]: r["cusum"] for r in out.collect()}

    n = len(series)
    mu = sum(series) / n
    s, expect = 0.0, {}
    for i, x in enumerate(series):
        s = max(0.0, s + (x - mu - 1))
        if s > 3:
            expect[d0 + datetime.timedelta(days=i)] = round(s, 4)
    assert got == expect and len(expect) > 0
