"""Golden-count ports of the reference's 5 end-to-end scenarios
(/root/reference/internal/sync/test/sync_test.go).

Reference golden: with R rows/subject, S subjects, K signals/record and the
sync window starting at the corpus midpoint, expected signal rows =
(R·S·K)/2 + K·S — midpoint + start-INclusive boundary (sync_test.go:63-68).
Scaled down (R=200, S=8) for speed; the formula is size-independent.
"""

from __future__ import annotations

from datetime import timedelta

import pytest

from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG
from es_ch_sync_spark.fixtures import BASE_TIME, device_dim_df, device_status_df
from es_ch_sync_spark.io.sinks import dedup_signals
from es_ch_sync_spark.job.sync import SyncOptions, plan_sync

R = 200  # rows per subject
S = 8  # subjects
K = len(DEVICE_STATUS_CATALOG)  # 18 signals per status record


@pytest.fixture(scope="module")
def status_df(spark):
    # malformed_every=500 → a few bad docs inside the window
    return device_status_df(spark, subjects=S, rows_per_subject=R, malformed_every=500).cache()


@pytest.fixture(scope="module")
def dim_df(spark):
    return device_dim_df(spark, subjects=S)


def _window_midpoint():
    # times are BASE+1ms .. BASE+Rms; start at midpoint, stop past the end.
    start = BASE_TIME + timedelta(milliseconds=R // 2)
    stop = BASE_TIME + timedelta(milliseconds=R + 1)
    return start, stop


def test_catalog_has_18_signals():
    assert K == 18  # sync_test.go:64


def test_golden_count_full_catalog(spark, status_df, dim_df):
    """Scenario 1 (sync_test.go:63-93): explicit token list, full catalog."""
    start, stop = _window_midpoint()
    opts = SyncOptions(
        start_time=start,
        stop_time=stop,
        token_ids=SyncOptions.parse_token_ids(" 1, 2 ,3,4,5,6,7,8,  bogus,"),
    )
    signals, _ = plan_sync(status_df, DEVICE_STATUS_CATALOG, dim_df, opts)
    got = signals.count()
    # rows in window per subject: times start+0..R-1ms → i+1 >= R/2 → R/2+1 rows
    n_malformed_in_window = (
        status_df.filter("is_malformed AND time >= timestamp'%s'" % start.isoformat(sep=" "))
        .count()
    )
    expected = (R // 2 + 1) * S * K - n_malformed_in_window * K
    assert got == expected


def test_signal_filter_two_signals(spark, status_df, dim_df):
    """Scenario 3 (sync_test.go:132-164): SIGNALS filter → 2 signals/record."""
    start, stop = _window_midpoint()
    opts = SyncOptions(start_time=start, stop_time=stop, signals=["speed", "make"])
    signals, _ = plan_sync(status_df, DEVICE_STATUS_CATALOG, dim_df, opts)
    n_malformed_in_window = (
        status_df.filter("is_malformed AND time >= timestamp'%s'" % start.isoformat(sep=" "))
        .count()
    )
    expected = (R // 2 + 1) * S * 2 - n_malformed_in_window * 2
    assert signals.count() == expected
    names = {r["name"] for r in signals.select("name").distinct().collect()}
    assert names == {"speed", "make"}


def test_quarantine_never_fails_job(spark, status_df, dim_df):
    """Malformed docs produce 0 signals and land in quarantine (T3)."""
    opts = SyncOptions(start_time=BASE_TIME, stop_time=BASE_TIME + timedelta(days=1))
    signals, quarantine = plan_sync(status_df, DEVICE_STATUS_CATALOG, dim_df, opts)
    assert quarantine.filter("is_malformed").count() == status_df.filter("is_malformed").count()
    # malformed rows have all data_* null → no signal rows emitted
    bad_keys = (
        status_df.filter("is_malformed")
        .selectExpr("time AS timestamp", "cast(subject AS long) AS token_id")
    )
    assert signals.join(bad_keys, on=["timestamp", "token_id"], how="inner").count() == 0


def test_idempotent_rerun(spark, status_df, dim_df, tmp_path):
    """Re-running the sync over the same window adds nothing: the sink's
    merge absorbs every already-written key (K2/P4 — ReplacingMergeTree
    semantics)."""
    from es_ch_sync_spark.io.sinks import write_signals

    start, stop = _window_midpoint()
    opts = SyncOptions(start_time=start, stop_time=stop)
    first, _ = plan_sync(status_df, DEVICE_STATUS_CATALOG, dim_df, opts)
    first = first.cache()
    n1 = first.count()
    out = str(tmp_path / "signal")
    write_signals(first, out, (start, stop))
    assert spark.read.parquet(out).count() == n1
    again, _ = plan_sync(status_df, DEVICE_STATUS_CATALOG, dim_df, opts)
    write_signals(again, out, (start, stop))
    assert spark.read.parquet(out).count() == n1
    # and dedup of the doubled stream returns the original count
    doubled = first.unionByName(first)
    assert dedup_signals(doubled).count() == n1


def test_unresolved_subjects_quarantined(spark, dim_df):
    """J1 negative cache: subjects missing from the dimension are quarantined."""
    from es_ch_sync_spark.fixtures import device_status_df

    df = device_status_df(spark, subjects=10, rows_per_subject=10, malformed_every=0)
    opts = SyncOptions(start_time=BASE_TIME, stop_time=BASE_TIME + timedelta(days=1))
    signals, quarantine = plan_sync(df, DEVICE_STATUS_CATALOG, dim_df, opts)
    # dim only has subjects 1..8; 9 and 10 are unresolved
    assert quarantine.filter("subject in ('9','10')").count() == 20
    assert signals.filter("token_id > 8").count() == 0


def test_token_id_parsing():
    assert SyncOptions.parse_token_ids(" 1, 2 ,x,,3 ") == [1, 2, 3]


def test_normalize_pseudo_arrays_compacts_cell_slots(spark):
    """cell_[0..3] pseudo-array fields (status_mapping.json:38-110) fold
    into one compact array<struct<slot, value>> column: absent slots drop,
    present slots keep their ordinal, flat columns are removed."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from es_ch_sync_spark.operators.transform import normalize_pseudo_arrays

    cell_t = T.StructType(
        [T.StructField("rssi", T.IntegerType()), T.StructField("physical_cell_id", T.IntegerType())]
    )
    schema = T.StructType(
        [T.StructField("subject", T.StringType())]
        + [T.StructField(f"cell_{i}", cell_t) for i in range(4)]
    )
    rows = [
        ("a", (-70, 101), (-80, 102), None, None),
        ("b", None, None, (-90, 103), None),
        ("c", None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = normalize_pseudo_arrays(df, "cell", 4)
    assert set(out.columns) == {"subject", "cell"}
    got = {r["subject"]: r["cell"] for r in out.collect()}
    assert [(e["slot"], e["value"]["rssi"]) for e in got["a"]] == [(0, -70), (1, -80)]
    assert [(e["slot"], e["value"]["physical_cell_id"]) for e in got["b"]] == [(2, 103)]
    assert got["c"] == []
    # per-element access is a plain explode, no N-way union
    n_cells = out.select(F.explode("cell")).count()
    assert n_cells == 3


def test_observation_metrics_ride_the_job(spark, status_df, dim_df, tmp_path):
    """Pipeline metrics via the Observation API: one write action populates
    signal and quarantine counters with no extra pass; the exposition text
    carries the numeric ones (main.go:108-123 analog)."""
    from es_ch_sync_spark.job.metrics import (
        observe_quarantine,
        observe_signals,
        prometheus_text,
    )

    opts = SyncOptions(start_time=BASE_TIME, stop_time=BASE_TIME + timedelta(days=1))
    signals, quarantined = plan_sync(status_df, DEVICE_STATUS_CATALOG, dim_df, opts)
    signals, s_obs = observe_signals(signals)
    quarantined, q_obs = observe_quarantine(quarantined)

    signals.write.mode("overwrite").parquet(str(tmp_path / "sig"))
    quarantined.write.mode("overwrite").parquet(str(tmp_path / "quar"))

    s = s_obs.get
    assert s["n_signals"] > 0
    assert s["n_numeric"] + s["n_string"] == s["n_signals"]
    assert q_obs.get["n_quarantined"] > 0  # fixture injects malformed docs

    text = prometheus_text({**s, **q_obs.get})
    assert "es_ch_sync_spark_n_signals" in text
    assert "# TYPE es_ch_sync_spark_n_quarantined gauge" in text
    assert "min_ts" not in text  # non-numeric values stay out of exposition


def test_reverse_sync_version_diff_and_idempotence(spark, tmp_path):
    """job/export.py: version-diff export reads ONLY the new commits'
    files; a retried range collapses at read time to one doc per _id."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.io import txlog as tx
    from es_ch_sync_spark.job.export import (
        export_new_versions,
        new_files_between,
        read_exported,
    )

    table = str(tmp_path / "fact")
    es_dir = str(tmp_path / "es")
    for lo in (0, 50, 100):
        tx.txlog_append(
            spark.range(lo, lo + 50).selectExpr(
                "id AS event_id", "id * 1.5 AS value"
            ).coalesce(1),
            table,
        )
    # incremental read set = exactly v2's file(s)
    inc = new_files_between(table, 1, 2)
    assert len(inc) == 1
    v = export_new_versions(spark, table, es_dir, "event_id", None, 1)
    export_new_versions(spark, table, es_dir, "event_id", v)
    export_new_versions(spark, table, es_dir, "event_id", v, 2)  # retry
    back = read_exported(spark, es_dir, "es_id string, value double")
    assert back.count() == 150
    assert back.agg(F.sum("value")).collect()[0][0] == sum(
        i * 1.5 for i in range(150)
    )


def test_reverse_sync_update_delete_tombstones(spark, tmp_path):
    """ADVICE r6: the export must carry txlog UPDATE and DELETE through
    to the sink — updated rows win deterministically by export version
    (not an arbitrary dropDuplicates survivor) and deleted rows emit
    tombstones that remove the doc at read time."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.io import txlog as tx
    from es_ch_sync_spark.job.export import (
        ExportHistoryError,
        export_new_versions,
        read_exported,
    )

    table = str(tmp_path / "fact")
    es_dir = str(tmp_path / "es")
    tx.txlog_append(
        spark.range(0, 100)
        .selectExpr("id AS event_id", "id * 1.0 AS value")
        .coalesce(1),
        table,
    )
    v = export_new_versions(spark, table, es_dir, "event_id", None)

    # UPDATE: rows 0..9 get value 999; DELETE: rows 90..99 vanish
    tx.txlog_update(
        spark, table, [("event_id", "<", 10)], {"value": "999.0"}
    )
    tx.txlog_delete(spark, table, [("event_id", ">=", 90)])
    v2 = export_new_versions(spark, table, es_dir, "event_id", v)

    back = read_exported(spark, es_dir, "es_id string, value double")
    assert back.count() == 90  # deletes applied
    got = {r["es_id"]: r["value"] for r in back.collect()}
    assert got["0"] == 999.0 and got["5"] == 999.0  # updates win
    assert got["50"] == 50.0  # untouched rows survive
    assert "95" not in got

    # retry of the same DML range is idempotent
    export_new_versions(spark, table, es_dir, "event_id", v, v2)
    again = read_exported(spark, es_dir, "es_id string, value double")
    assert again.count() == 90
    assert again.agg(F.sum("value")).collect()[0][0] == (
        999.0 * 10 + sum(range(10, 90))
    )

    # history truncated inside the range → loud failure, not silent loss
    import pytest as _pytest

    tx.vacuum(table, keep_versions=1)
    with _pytest.raises(ExportHistoryError):
        export_new_versions(spark, table, es_dir, "event_id", 0, None)


def test_es_cell_array_scan_fixture_explode(spark):
    """r14: the es_cell_array_scan query's widen→compact→explode chain on a
    hand-computed frame — slot i present iff (event_id+i) % (i+2) = 0,
    value = value·(i+1); event_id 2 hits all four slots, event_id 3 hits
    none — pinned exactly below."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.transform import normalize_pseudo_arrays

    df = spark.createDataFrame(
        [(2, 10.0), (3, 5.0)], "event_id long, value double"
    )
    for i in range(4):
        df = df.withColumn(
            f"cell_{i}",
            F.when(
                (F.col("event_id") + F.lit(i)) % F.lit(i + 2) == 0,
                F.col("value") * F.lit(i + 1),
            ),
        )
    out = (
        normalize_pseudo_arrays(df, "cell", 4)
        .select("event_id", F.explode("cell").alias("c"))
        .select("event_id", F.col("c.slot").alias("slot"), F.col("c.value").alias("v"))
    )
    got = sorted((r["event_id"], r["slot"], r["v"]) for r in out.collect())
    # event 2: (2+0)%2=0 ✓, (2+1)%3=0 ✓, (2+2)%4=0 ✓, (2+3)%5=0 ✓ — all 4
    # event 3: (3+0)%2≠0, (3+1)%3≠0, (3+2)%4≠0, (3+3)%5≠0 — none
    assert got == [(2, 0, 10.0), (2, 1, 20.0), (2, 2, 30.0), (2, 3, 40.0)]


def test_dedup_keeps_the_collect_list_winner(spark):
    """dedup_signals' min(struct) keeps, per key, exactly the row the former
    array_min(collect_list(struct)) formulation kept: conflicting
    duplicates with null value_number / value_string and differing source
    included."""
    from pyspark.sql import functions as F

    key = ["token_id", "timestamp", "name"]
    rows = []
    for k in range(40):
        ts = BASE_TIME + timedelta(seconds=k)
        for j, (src, num, s) in enumerate(
            [("b", None, "x"), ("a", 2.0, None), ("a", None, None), ("a", 1.0, "y"),
             ("c", -1.0, "z"), (None, 3.0, "w")][: 1 + k % 6]
        ):
            rows.append((k % 7, ts, f"n{k % 3}", src, num, s))
    sig = spark.createDataFrame(
        rows,
        "token_id bigint, timestamp timestamp, name string, source string, "
        "value_number double, value_string string",
    )
    others = [c for c in sig.columns if c not in key]
    before = (
        sig.groupBy(*key)
        .agg(F.array_min(F.collect_list(F.struct(*others))).alias("_p"))
        .select(*key, *[F.col(f"_p.{c}").alias(c) for c in others])
    )
    after = dedup_signals(sig)
    assert after.count() == sig.select(*key).distinct().count()
    assert after.exceptAll(before).count() == 0
    assert before.exceptAll(after).count() == 0


def test_dim_duplicate_subject_resolves_to_min_token(spark):
    """A subject listed more than once in the dim takes its smallest
    non-null token_id, however the dim is partitioned."""
    from es_ch_sync_spark.operators.dimjoin import resolve_tokens

    entries = [("a", t) for t in (9, 5, None, 3, 7, 4, 8, 6)] + [("b", None), ("b", 2)]
    dim = spark.createDataFrame(entries, "subject string, token_id bigint")
    facts = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "subject string, n int")
    for parts in (1, 8):
        resolved, unresolved = resolve_tokens(facts, dim.repartition(parts), broadcast_dim=parts == 1)
        assert sorted((r.subject, r.token_id) for r in resolved.collect()) == [("a", 3), ("b", 2)]
        assert [r.subject for r in unresolved.collect()] == ["c"]
