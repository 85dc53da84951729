"""es_status Python DataSource: pushdown, projection, quarantine-by-skip,
reader-state isolation, and end-to-end sync-job parity.

The connector reproduces the reference's ES pushdown boundary
(/root/reference/internal/service/elastic/elastic.go:46-108) with the
public pyspark.sql.datasource API — no jars."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from es_ch_sync_spark.io.es_datasource import read_es_status

NARROW = "es_id string, subject string, time timestamp, data_speed bigint, data_odometer double"


@pytest.fixture(scope="module")
def export_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("es_export")
    with open(d / "p0.ndjson", "w") as f:
        for i in range(30):
            f.write(
                json.dumps(
                    {
                        "_id": f"e{i}",
                        "_index": "device-status",
                        "_source": {
                            "subject": str(i % 3),
                            "time": f"2020-01-01T00:00:{i:02d}.{i:06d}Z",
                            "source": "dimo/integration/x",
                            "data_speed": i,
                            "data_odometer": i * 10.5,
                            "data_make": "Ford",
                            "undeclared_payload_field": "x" * 64,
                        },
                    }
                )
                + "\n"
            )
        f.write("NOT JSON AT ALL {{{ \n")  # malformed: skipped, never fatal
    return str(d)


def test_filters_are_pushed_into_source(spark, export_dir):
    """Subject equality + time range must vanish from the Spark-side plan:
    the source absorbed them via pushFilters (the elastic.go boundary)."""
    q = read_es_status(spark, export_dir, NARROW).filter(
        (F.col("subject") == "1")
        & (F.col("time") >= F.lit(datetime(2020, 1, 1, 0, 0, 10, tzinfo=timezone.utc)))
    )
    rows = q.collect()
    assert {r["es_id"] for r in rows} == {f"e{i}" for i in range(10, 30) if i % 3 == 1}
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan es_status" in plan
    # no post-scan Filter NODE survives — every predicate (incl. the
    # implied IsNotNulls) was accepted by pushFilters ("RuntimeFilters: []"
    # on the scan line is unrelated DSv2 boilerplate)
    assert "Filter (" not in plan, plan


def test_results_match_jvm_json_reader(spark, export_dir):
    """Connector output must equal the plain JVM NDJSON reader's on the
    same export (same filter, engine-level equivalence)."""
    got = {
        (r["es_id"], r["subject"], r["time"], r["data_speed"], r["data_odometer"])
        for r in read_es_status(spark, export_dir, NARROW)
        .filter(F.col("subject") == "2")
        .collect()
    }
    envelope = (
        "`_id` string, `_index` string, _source struct<subject string, "
        "time timestamp, data_speed bigint, data_odometer double>"
    )
    jvm = (
        spark.read.schema(envelope)
        .option("mode", "DROPMALFORMED")
        .json(export_dir)
        .select(
            F.col("_id").alias("es_id"),
            "_source.subject",
            "_source.time",
            "_source.data_speed",
            "_source.data_odometer",
        )
        .filter(F.col("subject") == "2")
    )
    want = {
        (r["es_id"], r["subject"], r["time"], r["data_speed"], r["data_odometer"])
        for r in jvm.collect()
    }
    assert got == want and len(got) == 10


def test_malformed_line_skipped_not_fatal(spark, export_dir):
    assert read_es_status(spark, export_dir, NARROW).count() == 30


def test_projection_via_declared_schema(spark, export_dir):
    """Undeclared _source fields are never parsed or surfaced — the
    declared schema IS the projection pushdown."""
    df = read_es_status(spark, export_dir, "es_id string, subject string")
    assert df.columns == ["es_id", "subject"]
    assert df.count() == 30


def test_fresh_load_isolates_pushed_state(spark, export_dir):
    """The API gotcha read_es_status exists for: after a filtered query
    executes, a FRESH load must see the full data (stale pushed filters on
    a reused frame would silently shrink it)."""
    filtered = read_es_status(spark, export_dir, NARROW).filter(F.col("subject") == "0")
    assert filtered.count() == 10
    assert read_es_status(spark, export_dir, NARROW).count() == 30


def test_pushdown_conf_off_fails_loudly(spark, export_dir):
    """Spark REFUSES to initialize a pushFilters-implementing reader when
    spark.sql.python.filterPushdown.enabled=false — a loud, named error,
    not silent wrong results.  register_es_status turning the conf on is
    therefore load-bearing, and this pins the failure mode if it ever
    regresses."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        df = read_es_status(spark, export_dir, NARROW)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        with pytest.raises(AnalysisException, match="PUSHDOWN_DISABLED"):
            df.filter(F.col("subject") == "1").count()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_sync_job_end_to_end_via_es_status(spark, tmp_path):
    """format("es_status") feeds plan_sync end to end and produces exactly
    the signals the in-memory fixture path produces (job/main.py
    --source-format es_status wiring)."""
    from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG
    from es_ch_sync_spark.fixtures import device_status_df
    from es_ch_sync_spark.job.sync import SyncOptions, plan_sync

    wide = device_status_df(spark, subjects=2, rows_per_subject=40, malformed_every=0)
    export = str(tmp_path / "status_export")
    (
        wide.drop("is_malformed")
        .select(
            F.col("id").alias("_id"),
            F.lit("device-status").alias("_index"),
            F.struct(*[F.col(c) for c in wide.columns if c != "is_malformed"]).alias(
                "_source"
            ),
        )
        .write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(export)
    )

    opts = SyncOptions(
        start_time=datetime(2019, 1, 1, tzinfo=timezone.utc),
        stop_time=datetime(2021, 1, 1, tzinfo=timezone.utc),
    )
    via_ds = read_es_status(spark, export).drop("es_id", "es_index")
    got, _ = plan_sync(via_ds, DEVICE_STATUS_CATALOG, None, opts)
    want, _ = plan_sync(wide.drop("is_malformed"), DEVICE_STATUS_CATALOG, None, opts)
    key = ["token_id", "timestamp", "name"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )
    assert got.count() == want.count() > 0


# ---------------------------------------------------------------------------
# Writer side: batched sink with job-level atomic visibility
# ---------------------------------------------------------------------------

import os  # noqa: E402
import time  # noqa: E402

from es_ch_sync_spark.io.es_datasource import (  # noqa: E402
    committed_files,
    write_es_status,
)


def _sink_df(spark, n=20):
    return spark.range(n).selectExpr(
        "CAST(id AS STRING) AS es_id",
        "CAST(id % 4 AS STRING) AS subject",
        "timestamp'2021-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS time",
        "id * 3 AS data_speed",
        "id * 2.5 AS data_odometer",
    ).repartition(3)


def test_writer_roundtrips_through_reader(spark, tmp_path):
    """df → es_status save → es_status load must be lossless (same hit
    NDJSON shape both directions)."""
    out = str(tmp_path / "sink")
    df = _sink_df(spark)
    write_es_status(df, out, mode="append", index="device-status")
    assert len(committed_files(out)) == 3  # one file per partition
    back = read_es_status(
        spark,
        out,
        schema="es_id string, subject string, time timestamp, "
        "data_speed bigint, data_odometer double",
    )
    want = {tuple(r) for r in df.collect()}
    got = {tuple(r) for r in back.select(*df.columns).collect()}
    assert got == want


def test_writer_append_merges_manifest_overwrite_replaces(spark, tmp_path):
    out = str(tmp_path / "sink")
    write_es_status(_sink_df(spark, 10), out, mode="append")
    write_es_status(_sink_df(spark, 10), out, mode="append")
    files_after_append = committed_files(out)
    assert len(files_after_append) == 6
    n = read_es_status(spark, out, schema=NARROW).count()
    assert n == 20  # duplicate ids are the DESTINATION's dedup job (K2)
    write_es_status(_sink_df(spark, 4).coalesce(1), out, mode="overwrite")
    assert len(committed_files(out)) == 1


def test_failed_job_commits_nothing(spark, tmp_path):
    """A task failure must leave no manifest and no committed data files
    (the PrepareBatch/Send all-or-nothing analog); temp files from
    completed sibling tasks are aborted away."""
    out = str(tmp_path / "sink")

    @F.udf("string")
    def boom(s):
        raise RuntimeError("poison row")

    bad = _sink_df(spark).withColumn("subject", boom("subject"))
    with pytest.raises(Exception, match="poison"):
        write_es_status(bad, out, mode="append")
    assert committed_files(out) == []
    leftovers = [
        p
        for p in (os.listdir(out) if os.path.isdir(out) else [])
        if not p.startswith("_tmp_")
    ]
    assert leftovers == []  # nothing visible was committed


def test_committed_files_ignores_strays(spark, tmp_path):
    """Readers honoring the manifest never see files a crashed job left."""
    out = str(tmp_path / "sink")
    write_es_status(_sink_df(spark, 6).coalesce(1), out, mode="append")
    with open(os.path.join(out, "part-99999-stray.ndjson"), "w") as f:
        f.write('{"_id":"zz","_index":"x","_source":{"subject":"9"}}\n')
    assert not any("stray" in p for p in committed_files(out))


# ---------------------------------------------------------------------------
# Streaming reader: micro-batch consumption of an append-only export dir
# ---------------------------------------------------------------------------

from es_ch_sync_spark.io.es_datasource import read_es_status_stream  # noqa: E402

_STREAM_SCHEMA = "es_id string, subject string, data_speed bigint"


def _write_wave(d: str, name: str, ids: range) -> None:
    with open(os.path.join(d, name), "w") as f:
        for i in ids:
            f.write(
                json.dumps(
                    {
                        "_id": f"e{i}",
                        "_index": "device-status",
                        "_source": {"subject": str(i % 3), "data_speed": i},
                    }
                )
                + "\n"
            )


def _drain(spark, src_dir: str, ckpt: str, sink: str) -> list:
    """Drain to a parquet sink (the memory sink refuses checkpoint
    recovery); returns only the rows written by THIS drain."""
    before = set()
    if os.path.isdir(sink):
        before = {p for p in os.listdir(sink) if p.startswith("part-")}
    q = (
        read_es_status_stream(spark, src_dir, _STREAM_SCHEMA)
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    new_files = [
        os.path.join(sink, p)
        for p in os.listdir(sink)
        if p.startswith("part-") and p not in before
    ]
    if not new_files:
        return []
    return spark.read.schema(_STREAM_SCHEMA).parquet(*new_files).collect()


def test_stream_reader_resumes_from_checkpoint(spark, tmp_path):
    """Two arrival waves, two AvailableNow drains sharing a checkpoint:
    the second drain reads ONLY the new file — exactly-once consumption
    across restarts, the reference's watermark-resume behavior."""
    src = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_wave(src, "part-00001.ndjson", range(0, 10))
    sink = str(tmp_path / "sink")
    first = _drain(spark, src, ckpt, sink)
    assert sorted(r["es_id"] for r in first) == [f"e{i}" for i in range(10)]

    _write_wave(src, "part-00002.ndjson", range(10, 15))
    second = _drain(spark, src, ckpt, sink)
    assert sorted(int(r["data_speed"]) for r in second) == list(range(10, 15))
    # wave-1 rows were NOT re-emitted
    assert all(int(r["data_speed"]) >= 10 for r in second)


def test_stream_reader_empty_batch_is_noop(spark, tmp_path):
    """Draining again with no new files emits nothing and does not fail
    (partitions() legitimately returns an empty plan)."""
    src = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_wave(src, "part-00001.ndjson", range(0, 5))
    sink = str(tmp_path / "sink")
    assert len(_drain(spark, src, ckpt, sink)) == 5
    assert _drain(spark, src, ckpt, sink) == []


def test_stream_matches_batch_reader(spark, tmp_path):
    """A full drain equals the batch reader over the same export —
    parsing is the SAME delegate, so this pins the equivalence."""
    src = str(tmp_path / "export")
    os.makedirs(src)
    _write_wave(src, "part-00001.ndjson", range(0, 7))
    _write_wave(src, "part-00002.ndjson", range(7, 20))
    got = _drain(spark, src, str(tmp_path / "ck"), str(tmp_path / "sink"))
    want = read_es_status(spark, src, _STREAM_SCHEMA).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# ---------------------------------------------------------------------------
# Streaming writer: epoch-committed exactly-once sink
# ---------------------------------------------------------------------------


def test_stream_writer_roundtrip(spark, tmp_path):
    """stream-read an export dir, stream-write through the es_status sink
    (AvailableNow + checkpoint), read the sink back with the batch
    reader: same rows — the continuous ES→CH sync shape end to end
    through the custom connector on BOTH ends."""
    src = str(tmp_path / "export")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    _write_wave(src, "part-00001.ndjson", range(0, 12))
    q = (
        read_es_status_stream(spark, src, _STREAM_SCHEMA)
        .writeStream.format("es_status")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(committed_files(sink)) >= 1
    back = read_es_status(spark, sink, _STREAM_SCHEMA).collect()
    assert sorted(int(r["data_speed"]) for r in back) == list(range(12))


def test_stream_writer_replayed_epoch_is_noop(spark, tmp_path):
    """Replaying a committed epoch (driver crash between sink commit and
    checkpoint write) must not duplicate data: the O_EXCL epoch marker
    makes the second commit discard its temps."""
    import json as _json

    from es_ch_sync_spark.io.es_datasource import (
        EsStatusStreamWriter,
        _EsWriteCommit,
    )
    from pyspark.sql import types as T

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    schema = T.StructType.fromDDL(_STREAM_SCHEMA)
    w = EsStatusStreamWriter(schema, {"path": sink}, overwrite=False)

    def make_msg(tag):
        tmp = os.path.join(sink, f"_tmp_{tag}.ndjson")
        with open(tmp, "w") as f:
            f.write('{"_id":"a","_index":"x","_source":{"subject":"1"}}\n')
        return _EsWriteCommit(tmp, f"part-00000-{tag}.ndjson", 1)

    w.commit([make_msg("first")], batchId=7)
    files_once = committed_files(sink)
    # replay: same epoch arrives again with a fresh task attempt
    w.commit([make_msg("replay")], batchId=7)
    assert committed_files(sink) == files_once  # nothing new visible
    assert not any(p.startswith("_tmp_") for p in os.listdir(sink))
    with open(os.path.join(sink, "_ES_COMMIT")) as f:
        assert _json.load(f)["n_rows"] == 1


def test_stream_writer_heals_torn_manifest(spark, tmp_path):
    """Crash window between the epoch marker and the global-manifest
    merge: the files are visible but unlisted. The replayed epoch must
    repair the manifest idempotently (exact per-file row counts, no
    double count)."""
    import json as _json

    from es_ch_sync_spark.io.es_datasource import (
        EsStatusStreamWriter,
        _EsWriteCommit,
    )
    from pyspark.sql import types as T

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    schema = T.StructType.fromDDL(_STREAM_SCHEMA)
    w = EsStatusStreamWriter(schema, {"path": sink}, overwrite=False)

    def make_msg(tag, n):
        tmp = os.path.join(sink, f"_tmp_{tag}.ndjson")
        with open(tmp, "w") as f:
            for i in range(n):
                f.write('{"_id":"a%d","_index":"x","_source":{"subject":"1"}}\n' % i)
        return _EsWriteCommit(tmp, f"part-00000-{tag}.ndjson", n)

    w.commit([make_msg("e0", 3)], batchId=0)
    # simulate the torn state: epoch 0 committed, manifest lost
    os.remove(os.path.join(sink, "_ES_COMMIT"))
    # replay of epoch 0 heals it
    w.commit([make_msg("replay", 3)], batchId=0)
    with open(os.path.join(sink, "_ES_COMMIT")) as f:
        m = _json.load(f)
    assert m["files"] == ["part-00000-e0.ndjson"]
    assert m["n_rows"] == 3
    # healing again is a no-op
    w.commit([make_msg("replay2", 3)], batchId=0)
    with open(os.path.join(sink, "_ES_COMMIT")) as f:
        assert _json.load(f) == m


# ---------------------------------------------------------------------------
# Manifest-stats file pruning: split planning skips out-of-range files
# ---------------------------------------------------------------------------

from es_ch_sync_spark.io.es_datasource import EsStatusReader  # noqa: E402
from pyspark.sql.datasource import EqualTo as _Eq  # noqa: E402
from pyspark.sql import types as _T  # noqa: E402


def _range_sink(spark, sink):
    """Three committed files with disjoint subject ranges (a*, b*, c*)."""
    for prefix in ("a", "b", "c"):
        df = spark.createDataFrame(
            [(f"{prefix}{i}", f"{prefix}-sub-{i}", i) for i in range(10)],
            "es_id string, subject string, data_speed long",
        ).coalesce(1)
        write_es_status(df, sink, mode="append", statscolumns="subject")


def test_stats_pruning_skips_files(spark, tmp_path):
    """A pushed subject-equality predicate plans ONLY the file whose
    recorded [min, max] range can contain it; unparseable or stats-less
    files are never skipped."""
    sink = str(tmp_path / "sink")
    _range_sink(spark, sink)
    schema = _T.StructType.fromDDL("es_id string, subject string, data_speed long")
    r = EsStatusReader(schema, {"path": sink})
    list(r.pushFilters([_Eq(("subject",), "b-sub-3")]))
    parts = r.partitions()
    assert len(parts) == 1  # 2 of 3 files pruned by manifest stats
    # a stats-less file is conservatively kept
    with open(os.path.join(sink, "part-99999-nostats.ndjson"), "w") as f:
        f.write('{"_id":"z","_index":"x","_source":{"subject":"zz"}}\n')
    r2 = EsStatusReader(schema, {"path": sink})
    list(r2.pushFilters([_Eq(("subject",), "b-sub-3")]))
    assert len(r2.partitions()) == 2


def test_stats_pruning_end_to_end_correct(spark, tmp_path):
    """Query results with pruning == results from the raw JVM reader:
    pruning may only skip files that cannot match."""
    sink = str(tmp_path / "sink")
    _range_sink(spark, sink)
    got = (
        read_es_status(spark, sink, "es_id string, subject string, data_speed long")
        .filter(F.col("subject") == "c-sub-7")
        .collect()
    )
    assert len(got) == 1 and got[0]["es_id"] == "c7"
    # range predicate prunes too and stays correct
    got2 = (
        read_es_status(spark, sink, "es_id string, subject string, data_speed long")
        .filter(F.col("subject") >= "c")
        .collect()
    )
    assert sorted(r["es_id"] for r in got2) == [f"c{i}" for i in range(10)]


# ---------------------------------------------------------------------------
# ADVICE r4 regressions: typed stats pruning, atomic epoch markers,
# out-of-order stream file names
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import GreaterThan as _Gt  # noqa: E402


def test_stats_pruning_numeric_is_typed(spark, tmp_path):
    """Numeric stats must compare as numbers: a file with data_speed in
    [100, 150] satisfies `data_speed > 20` (lexicographically '20' >
    '150' — the r4 bug pruned it and silently dropped rows)."""
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(f"n{i}", str(i), 100 + i) for i in range(51)],
        "es_id string, subject string, data_speed long",
    ).coalesce(1)
    write_es_status(df, sink, mode="append", statscolumns="data_speed")
    schema = _T.StructType.fromDDL("es_id string, subject string, data_speed long")

    r = EsStatusReader(schema, {"path": sink})
    list(r.pushFilters([_Gt(("data_speed",), 20)]))
    assert len(r.partitions()) == 1  # kept: 20 < 150 numerically

    r2 = EsStatusReader(schema, {"path": sink})
    list(r2.pushFilters([_Gt(("data_speed",), 200)]))
    assert len(r2.partitions()) == 0  # pruned: 200 > max 150

    r3 = EsStatusReader(schema, {"path": sink})
    list(r3.pushFilters([_Eq(("data_speed",), 99)]))
    assert len(r3.partitions()) == 0  # pruned: below min 100

    # end-to-end: rows actually come back through the pruned scan
    got = (
        read_es_status(spark, sink, "es_id string, subject string, data_speed long")
        .filter(F.col("data_speed") > 20)
        .count()
    )
    assert got == 51


def test_stats_pruning_timestamp_naive_literal_matches(spark, tmp_path):
    """A pushed naive timestamp literal must compare equal to the
    writer's tz-aware isoformat stats (the r4 bug string-compared
    '…T05:00:00' to '…T05:00:00+00:00' and pruned the file)."""
    import datetime

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("t1", datetime.datetime(2024, 3, 1, 5, 0, 0))],
        "es_id string, time timestamp",
    ).coalesce(1)
    write_es_status(df, sink, mode="append", statscolumns="time")
    schema = _T.StructType.fromDDL("es_id string, time timestamp")

    r = EsStatusReader(schema, {"path": sink})
    list(r.pushFilters([_Eq(("time",), datetime.datetime(2024, 3, 1, 5, 0, 0))]))
    assert len(r.partitions()) == 1  # single-value file must be kept

    r2 = EsStatusReader(schema, {"path": sink})
    list(r2.pushFilters([_Gt(("time",), datetime.datetime(2024, 3, 2))]))
    assert len(r2.partitions()) == 0  # genuinely out of range → pruned


def test_stream_writer_torn_marker_is_not_committed(spark, tmp_path):
    """An empty/partial epoch marker (crash inside the old marker-then-
    body window) must read as NOT committed: the commit clears it and
    publishes normally instead of wedging every replay (r4 ADVICE: the
    old code raised JSONDecodeError forever)."""
    import json as _json

    from es_ch_sync_spark.io.es_datasource import (
        EsStatusStreamWriter,
        _EsWriteCommit,
    )

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    with open(os.path.join(sink, "_ES_COMMIT_e3"), "w"):
        pass  # zero-byte torn marker
    schema = _T.StructType.fromDDL(_STREAM_SCHEMA)
    w = EsStatusStreamWriter(schema, {"path": sink}, overwrite=False)
    tmp = os.path.join(sink, "_tmp_t0.ndjson")
    with open(tmp, "w") as f:
        f.write('{"_id":"a","_index":"x","_source":{"subject":"1"}}\n')
    w.commit([_EsWriteCommit(tmp, "part-00000-t0.ndjson", 1)], batchId=3)
    assert committed_files(sink) == [os.path.join(sink, "part-00000-t0.ndjson")]
    with open(os.path.join(sink, "_ES_COMMIT_e3")) as f:
        marker = _json.load(f)  # marker is now complete, body and all
    assert marker["files"] == ["part-00000-t0.ndjson"]
    assert marker["renames"] == {"_tmp_t0.ndjson": "part-00000-t0.ndjson"}


def test_stream_writer_crash_before_renames_heals_on_replay(spark, tmp_path):
    """Crash after the marker published but before the data renames: the
    replay must complete the recorded renames idempotently — no lost
    files, no duplicates."""
    import json as _json

    from es_ch_sync_spark.io.es_datasource import (
        EsStatusStreamWriter,
        _EsWriteCommit,
    )

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    # the crashed incarnation's temp, still unrenamed
    tmp = os.path.join(sink, "_tmp_dead.ndjson")
    with open(tmp, "w") as f:
        f.write('{"_id":"a","_index":"x","_source":{"subject":"1"}}\n')
        f.write('{"_id":"b","_index":"x","_source":{"subject":"2"}}\n')
    # its published marker (atomic, full body) — renames not yet applied
    with open(os.path.join(sink, "_ES_COMMIT_e9"), "w") as f:
        _json.dump(
            {
                "files": ["part-00000-dead.ndjson"],
                "n_rows": 2,
                "per_file": {"part-00000-dead.ndjson": 2},
                "stats": {},
                "renames": {"_tmp_dead.ndjson": "part-00000-dead.ndjson"},
            },
            f,
        )
    schema = _T.StructType.fromDDL(_STREAM_SCHEMA)
    w = EsStatusStreamWriter(schema, {"path": sink}, overwrite=False)
    # replay arrives with its own fresh temp
    tmp2 = os.path.join(sink, "_tmp_replay.ndjson")
    with open(tmp2, "w") as f:
        f.write('{"_id":"c","_index":"x","_source":{"subject":"3"}}\n')
    w.commit([_EsWriteCommit(tmp2, "part-00000-replay.ndjson", 1)], batchId=9)
    assert committed_files(sink) == [os.path.join(sink, "part-00000-dead.ndjson")]
    assert not os.path.exists(tmp) and not os.path.exists(tmp2)
    with open(os.path.join(sink, "_ES_COMMIT")) as f:
        assert _json.load(f)["n_rows"] == 2
    # rows are actually readable through the healed manifest path
    got = read_es_status(spark, sink, _STREAM_SCHEMA).collect()
    assert sorted(r["es_id"] for r in got) == ["a", "b"]


def test_stream_reader_out_of_order_names_not_lost(spark, tmp_path):
    """A late file that sorts BELOW already-consumed names must still be
    read (the r4 watermark model silently skipped it): the consumed-set
    offset makes arrival order and naming irrelevant."""
    src = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_wave(src, "part-00900.ndjson", range(0, 5))
    sink = str(tmp_path / "sink")
    assert len(_drain(spark, src, ckpt, sink)) == 5
    # late arrival sorting lexicographically BEFORE the consumed file
    _write_wave(src, "part-00100.ndjson", range(5, 8))
    late = _drain(spark, src, ckpt, sink)
    assert sorted(int(r["data_speed"]) for r in late) == [5, 6, 7]


def test_stream_reader_legacy_watermark_offset_upgrade(tmp_path):
    """Old {'last': name} checkpoints are honored: the legacy start is
    expanded to 'files at or below the watermark', and only genuinely
    new files become partitions."""
    from es_ch_sync_spark.io.es_datasource import EsStatusStreamReader

    src = str(tmp_path / "export")
    os.makedirs(src)
    for name in ("part-00001.ndjson", "part-00002.ndjson", "part-00003.ndjson"):
        _write_wave(src, name, range(0, 1))
    schema = _T.StructType.fromDDL(_STREAM_SCHEMA)
    r = EsStatusStreamReader(schema, {"path": src})
    parts = r.partitions({"last": "part-00002.ndjson"}, r.latestOffset())
    assert [os.path.basename(p.path) for p in parts] == ["part-00003.ndjson"]


def test_vacuum_reclaims_orphans_age_guarded(tmp_path):
    """vacuum_es_status removes only aged _tmp_/stage orphans and never
    touches committed data or manifests."""
    from es_ch_sync_spark.io.es_datasource import vacuum_es_status

    d = str(tmp_path / "sink")
    os.makedirs(d)
    for name in (
        "_tmp_dead.ndjson",
        "_ES_COMMIT_e1.stage-abcd1234",
        "part-00000-live.ndjson",
        "_ES_COMMIT",
    ):
        with open(os.path.join(d, name), "w") as f:
            f.write("x")
    # fresh files survive the default age guard
    assert vacuum_es_status(d) == []
    removed = vacuum_es_status(d, older_than_sec=0.0)
    assert sorted(removed) == ["_ES_COMMIT_e1.stage-abcd1234", "_tmp_dead.ndjson"]
    assert sorted(os.listdir(d)) == ["_ES_COMMIT", "part-00000-live.ndjson"]


# ---------------------------------------------------------------------------
# Aggregate pushdown from manifest stats (r4 stretch #9)
# ---------------------------------------------------------------------------


def test_agg_pushdown_stats_only_and_fallbacks(spark, tmp_path):
    """min/max served from the manifest with zero files read when stats
    are exact; any coverage gap (stray file, stats-less commit) falls
    back to a real scan with the same answer."""
    from es_ch_sync_spark.io.es_datasource import (
        manifest_min_max,
        read_es_status_agg,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(f"e{i}", 100 + i) for i in range(40)],
        "es_id string, data_speed long",
    ).repartition(4)
    write_es_status(df, sink, mode="append", statscolumns="data_speed")

    lt = _T.LongType()
    assert manifest_min_max(sink, "data_speed", lt) == (100, 139)
    got = read_es_status_agg(
        spark, sink, "data_speed", "min", "es_id string, data_speed long"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "PythonDataSource" not in plan
    assert got.collect()[0]["min_data_speed"] == 100
    mx = read_es_status_agg(
        spark, sink, "data_speed", "max", "es_id string, data_speed long"
    )
    assert mx.collect()[0]["max_data_speed"] == 139

    # a stray (unmanifested) file disables the stats-only path but the
    # fallback scan still answers correctly, including the stray's rows
    with open(os.path.join(sink, "part-zzz-stray.ndjson"), "w") as f:
        f.write('{"_id":"s","_index":"x","_source":{"data_speed":7}}\n')
    assert manifest_min_max(sink, "data_speed", lt) is None
    fb = read_es_status_agg(
        spark, sink, "data_speed", "min", "es_id string, data_speed long"
    )
    assert fb.collect()[0]["min_data_speed"] == 7

    # a column without recorded stats → scan fallback too
    assert manifest_min_max(sink, "es_id", _T.StringType()) is None


def test_stats_accumulate_natively_across_digit_boundary(spark, tmp_path):
    """Writer min/max must accumulate on the NATIVE value: a file whose
    numeric column crosses a digit-count boundary (99 vs 100) would be
    recorded as bounds ['100','99'] under lexicographic accumulation
    (ADVICE r6), inverting the decoded lo/hi and corrupting zero-scan
    aggregates.  Also: a manifest that DOES carry inverted bounds (old
    writer / corruption) must disable pruning and stats-only aggs rather
    than serve wrong answers."""
    from es_ch_sync_spark.io.es_datasource import (
        manifest_min_max,
        read_es_status_agg,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(f"e{i}", v) for i, v in enumerate([99, 100, 101, 150, 9])],
        "es_id string, data_speed long",
    ).coalesce(1)
    write_es_status(df, sink, mode="append", statscolumns="data_speed")

    lt = _T.LongType()
    assert manifest_min_max(sink, "data_speed", lt) == (9, 150)
    got = read_es_status_agg(
        spark, sink, "data_speed", "max", "es_id string, data_speed long"
    )
    assert got.collect()[0]["max_data_speed"] == 150
    # the file must NOT be pruned for a predicate inside the true range
    r = EsStatusReader(
        _T.StructType.fromDDL("es_id string, data_speed long"), {"path": sink}
    )
    list(r.pushFilters([_Gt(("data_speed",), 120)]))
    assert len(r.partitions()) == 1

    # hand-invert the manifest bounds: consumers must fall back, not prune
    mpath = os.path.join(sink, "_ES_COMMIT")
    with open(mpath) as f:
        manifest = json.load(f)
    for fstats in manifest["stats"].values():
        if "data_speed" in fstats:
            fstats["data_speed"] = ["100", "99"]  # lo > hi numerically
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    assert manifest_min_max(sink, "data_speed", lt) is None
    fb = read_es_status_agg(
        spark, sink, "data_speed", "min", "es_id string, data_speed long"
    )
    assert fb.collect()[0]["min_data_speed"] == 9  # scan fallback, right answer
    r2 = EsStatusReader(
        _T.StructType.fromDDL("es_id string, data_speed long"), {"path": sink}
    )
    list(r2.pushFilters([_Gt(("data_speed",), 120)]))
    assert len(r2.partitions()) == 1  # inverted bounds never prune


def test_vacuum_completes_published_epoch_before_sweeping(tmp_path):
    """A temp referenced by a PUBLISHED epoch marker's rename plan is not
    an orphan: the writer crashed between publishing the marker and
    applying its renames.  Vacuum must complete those renames (and fold
    the epoch into the global manifest) instead of deleting the temp —
    deleting it would make _complete_epoch treat the missing temp as
    'already renamed' and merge a manifest listing a file that never
    materialized (ADVICE r5, silent row loss)."""
    import json

    from es_ch_sync_spark.io.es_datasource import (
        committed_files,
        vacuum_es_status,
    )

    d = str(tmp_path / "sink")
    os.makedirs(d)
    with open(os.path.join(d, "_tmp_task7.ndjson"), "w") as f:
        f.write('{"_id": "a", "_source": {"v": 1}}\n')
    with open(os.path.join(d, "_tmp_orphan.ndjson"), "w") as f:
        f.write("dead incarnation\n")
    epoch = {
        "files": ["part-e5-00007.ndjson"],
        "n_rows": 1,
        "per_file": {"part-e5-00007.ndjson": 1},
        "stats": {},
        "renames": {"_tmp_task7.ndjson": "part-e5-00007.ndjson"},
    }
    with open(os.path.join(d, "_ES_COMMIT_e5"), "w") as f:
        json.dump(epoch, f)

    removed = vacuum_es_status(d, older_than_sec=0.0)
    # the referenced temp was renamed into place, not removed
    assert removed == ["_tmp_orphan.ndjson"]
    assert os.path.exists(os.path.join(d, "part-e5-00007.ndjson"))
    assert not os.path.exists(os.path.join(d, "_tmp_task7.ndjson"))
    # and the epoch is now reader-visible via the global manifest
    assert committed_files(d) == [os.path.join(d, "part-e5-00007.ndjson")]
    with open(os.path.join(d, "_ES_COMMIT")) as f:
        assert json.load(f)["n_rows"] == 1
    # idempotent: a second vacuum changes nothing
    assert vacuum_es_status(d, older_than_sec=0.0) == []


def test_stream_reader_offset_retention_horizon(spark, tmp_path):
    """With maxFileAgeSec, consumed names age out of the offset (bounding
    checkpoint growth at O(retention-window)) while the same horizon
    excludes aged files from the listing universe — so an aged-out name
    can never be re-consumed, and the horizon never retreats (ADVICE r5)."""
    from es_ch_sync_spark.io.es_datasource import EsStatusStreamReader

    src = str(tmp_path / "export")
    os.makedirs(src)
    for name in ("part-old.ndjson", "part-new.ndjson"):
        _write_wave(src, name, range(0, 1))
    old_p = os.path.join(src, "part-old.ndjson")
    os.utime(old_p, (time.time() - 3600, time.time() - 3600))

    schema = _T.StructType.fromDDL(_STREAM_SCHEMA)
    r = EsStatusStreamReader(schema, {"path": src, "maxfileagesec": "600"})
    end = r.latestOffset()
    # the hour-old file is outside the horizon: not in the offset...
    assert end["seen"] == ["part-new.ndjson"] and "horizon" in end
    # ...and not in any micro-batch (FileStreamSource maxFileAge semantics)
    parts = r.partitions(r.initialOffset(), end)
    assert [os.path.basename(p.path) for p in parts] == ["part-new.ndjson"]
    # a consumed file ages out of later offsets without being re-consumed
    os.utime(os.path.join(src, "part-new.ndjson"),
             (time.time() - 3600, time.time() - 3600))
    _write_wave(src, "part-newer.ndjson", range(1, 2))
    end2 = r.latestOffset()
    assert end2["seen"] == ["part-newer.ndjson"]
    parts2 = r.partitions(end, end2)
    assert [os.path.basename(p.path) for p in parts2] == ["part-newer.ndjson"]
    # monotonic horizon
    assert end2["horizon"] >= end["horizon"]
    # retention off (default) keeps the exact unbounded set
    r0 = EsStatusStreamReader(schema, {"path": src})
    assert sorted(r0.latestOffset()["seen"]) == [
        "part-new.ndjson", "part-newer.ndjson", "part-old.ndjson"]


def test_stream_reader_horizon_survives_restart(spark, tmp_path):
    """ADVICE r6: the horizon floor must be restored from checkpointed
    offsets, not live only in self._horizon — a RESTARTED reader whose
    wall clock stepped backwards would otherwise re-list (and re-process)
    names already aged out of an earlier committed offset."""
    from es_ch_sync_spark.io.es_datasource import EsStatusStreamReader

    src = str(tmp_path / "export")
    os.makedirs(src)
    _write_wave(src, "part-a.ndjson", range(0, 1))
    schema = _T.StructType.fromDDL(_STREAM_SCHEMA)

    r = EsStatusStreamReader(schema, {"path": src, "maxfileagesec": "600"})
    end = r.latestOffset()
    assert end["seen"] == ["part-a.ndjson"]
    # consume + age the file out of later offsets
    os.utime(os.path.join(src, "part-a.ndjson"),
             (time.time() - 3600, time.time() - 3600))
    end2 = r.latestOffset()
    assert end2["seen"] == []

    # restart: a fresh reader (empty in-memory horizon) on a retreated
    # clock produces an end offset whose horizon is BELOW the committed
    # one and re-lists the aged file...
    r2 = EsStatusStreamReader(schema, {"path": src, "maxfileagesec": "600"})
    retreated = {"seen": ["part-a.ndjson"], "horizon": end2["horizon"] - 7200}
    # ...partitions() must refuse to resurrect it against the committed
    # start offset (its mtime is below the committed horizon)
    parts = r2.partitions(end2, retreated)
    assert parts == []
    # and the restored horizon becomes the in-memory floor again
    assert r2._horizon >= end2["horizon"]
    # commit() alone also restores the floor
    r3 = EsStatusStreamReader(schema, {"path": src, "maxfileagesec": "600"})
    r3.commit(end2)
    assert r3._horizon >= end2["horizon"]
    # a genuinely new file (mtime above the committed horizon) still flows
    _write_wave(src, "part-b.ndjson", range(1, 2))
    end3 = r2.latestOffset()
    parts3 = r2.partitions(end2, end3)
    assert [os.path.basename(p.path) for p in parts3] == ["part-b.ndjson"]


def test_count_and_grouped_agg_pushdown(spark, tmp_path):
    """COUNT(*) from per-file manifest counts and per-group min/max from
    single-valued es_index file stats (the reference's filtered
    QueryOldestSignal shape) — both zero-scan when provable, both falling
    back to a real scan when a file straddles groups or a stray file
    breaks coverage (r5 stretch #7)."""
    from es_ch_sync_spark.io.es_datasource import (
        manifest_count,
        manifest_grouped_agg,
        read_es_status_agg,
        read_es_status_agg_grouped,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(f"e{i}", 100 + i) for i in range(30)],
        "es_id string, data_speed long",
    ).repartition(3)
    write_es_status(
        df, sink, mode="append", index="idx_a", statscolumns="data_speed"
    )
    df2 = spark.createDataFrame(
        [(f"f{i}", 500 + i) for i in range(10)],
        "es_id string, data_speed long",
    ).coalesce(1)
    write_es_status(
        df2, sink, mode="append", index="idx_b", statscolumns="data_speed"
    )

    # count: manifest-only, zero files read
    assert manifest_count(sink) == 40
    cnt = read_es_status_agg(
        spark, sink, "es_id", "count", "es_id string, data_speed long"
    )
    plan = cnt._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "PythonDataSource" not in plan
    assert cnt.collect()[0]["n_rows"] == 40

    # grouped min/max + exact group counts, stats-only
    lt = _T.LongType()
    g = manifest_grouped_agg(sink, "data_speed", lt, "es_index", _T.StringType())
    assert g == {"idx_a": (100, 129, 30), "idx_b": (500, 509, 10)}
    got = read_es_status_agg_grouped(
        spark, sink, "data_speed", "min",
        schema="es_id string, es_index string, data_speed long",
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "PythonDataSource" not in plan
    rows = {r["es_index"]: (r["min_data_speed"], r["n_rows"]) for r in got.collect()}
    assert rows == {"idx_a": (100, 30), "idx_b": (500, 10)}
    # the groups filter (name-IN analog) restricts the local relation
    one = read_es_status_agg_grouped(
        spark, sink, "data_speed", "max", groups=["idx_b"],
        schema="es_id string, es_index string, data_speed long",
    ).collect()
    assert len(one) == 1 and one[0]["max_data_speed"] == 509

    # a multi-group file (hand-dropped, listed via a fresh manifest edit)
    # makes stats-only grouping unprovable -> scan fallback, same answer
    import json

    stray = "part-zzz-mixed.ndjson"
    with open(os.path.join(sink, stray), "w") as f:
        f.write('{"_id":"s1","_index":"idx_a","_source":{"data_speed":1}}\n')
        f.write('{"_id":"s2","_index":"idx_b","_source":{"data_speed":999}}\n')
    mpath = os.path.join(sink, "_ES_COMMIT")
    with open(mpath) as f:
        man = json.load(f)
    man["files"].append(stray)
    man["n_rows"] += 2
    man["per_file"][stray] = 2
    man["stats"][stray] = {
        "data_speed": ["1", "999"], "es_index": ["idx_a", "idx_b"]
    }
    with open(mpath, "w") as f:
        json.dump(man, f)
    assert manifest_grouped_agg(
        sink, "data_speed", lt, "es_index", _T.StringType()
    ) is None
    fb = read_es_status_agg_grouped(
        spark, sink, "data_speed", "min",
        schema="es_id string, es_index string, data_speed long",
    )
    rows = {r["es_index"]: (r["min_data_speed"], r["n_rows"]) for r in fb.collect()}
    assert rows == {"idx_a": (1, 31), "idx_b": (500, 11)}
    # count stays provable (per-file counts cover the new file)
    assert manifest_count(sink) == 42


# ---------------------------------------------------------------------------
# Reads whose stats prune every file; NaN in filters and stats
# ---------------------------------------------------------------------------


def test_read_that_prunes_every_file_returns_no_rows(spark, tmp_path):
    """When the manifest stats rule out every file, partitions() is empty
    and Spark plans one task with a None partition: the read must yield
    zero rows, not fail on ``None.path``."""
    sink = str(tmp_path / "sink")
    schema = "es_id string, data_speed long, data_engineSpeed double"
    df = spark.createDataFrame([("a", 100, 1.0), ("b", 150, 5.0)], schema).coalesce(1)
    write_es_status(df, sink, mode="append", statscolumns="data_speed,data_engineSpeed")
    r = EsStatusReader(_T.StructType.fromDDL(schema), {"path": sink})
    list(r.pushFilters([_Gt(("data_speed",), 200)]))
    assert r.partitions() == []
    for pred in (F.col("data_speed") > 200, F.col("data_engineSpeed") > 10):
        assert read_es_status(spark, sink, schema).filter(pred).count() == 0
        assert read_es_status(spark, sink, schema).filter(pred).collect() == []


@pytest.mark.parametrize(
    "values", [[float("nan"), 1.0, 5.0], [1.0, 5.0, float("nan")]],
    ids=["nan_first", "nan_last"],
)
def test_nan_rows_match_a_spark_scan(spark, tmp_path, values):
    """Spark orders NaN above every value and treats NaN = NaN as true.
    Filters and stats-served min/max over an es_status file holding a
    NaN must answer what a plain Spark scan of the same rows answers;
    the writer records no stats for a float column holding a NaN, and a
    NaN bound an older writer recorded is never used."""
    import math

    from es_ch_sync_spark.io.es_datasource import read_es_status_agg

    schema = "es_id string, data_engineSpeed double"
    rows = [(f"e{i}", v) for i, v in enumerate(values)]
    sink = str(tmp_path / "sink")
    write_es_status(
        spark.createDataFrame(rows, schema).coalesce(1), sink, mode="append",
        statscolumns="data_engineSpeed",
    )
    mem = spark.createDataFrame(rows, schema)
    col, nan = F.col("data_engineSpeed"), float("nan")
    for pred in (col > 10, col >= 5.0, col < 2.0, col == F.lit(nan), col.isin(nan, 1.0)):
        def ids(df):
            return sorted(r["es_id"] for r in df.filter(pred).collect())

        assert ids(read_es_status(spark, sink, schema)) == ids(mem), pred

    def same(a, b):
        return a == b or (math.isnan(a) and math.isnan(b))

    mpath = os.path.join(sink, "_ES_COMMIT")
    with open(mpath) as f:
        manifest = json.load(f)
    assert all("data_engineSpeed" not in s for s in manifest["stats"].values())
    for tamper in (False, True):
        if tamper:  # the NaN-first bounds an older writer recorded
            for s in manifest["stats"].values():
                s["data_engineSpeed"] = ["nan", "nan"]
            with open(mpath, "w") as f:
                json.dump(manifest, f)
        for agg in ("min", "max"):
            got = read_es_status_agg(spark, sink, "data_engineSpeed", agg, schema)
            want = mem.agg({"data_engineSpeed": agg})
            assert same(got.collect()[0][0], want.collect()[0][0]), (agg, tamper)


# ---------------------------------------------------------------------------
# Writer encoding stays columnar
# ---------------------------------------------------------------------------


def test_writer_write_path_has_no_per_row_python():
    """Neither ``EsStatusWriter.write`` nor any module function or writer
    method it reaches calls ``to_pylist`` or ``json.dumps``: a batch is
    encoded by Arrow kernels, not value by value.  ``_python_values`` and
    ``_json_dumps`` are the one per-value path, for the types no Arrow
    kernel encodes (decimal, binary, nested); the next test pins that the
    status schema's types never take it."""
    import ast
    import inspect

    import es_ch_sync_spark.io.es_datasource as es_ds

    tree = ast.parse(inspect.getsource(es_ds))
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "EsStatusWriter"
    )
    methods = {n.name: n for n in cls.body if isinstance(n, ast.FunctionDef)}
    per_value = {"_python_values", "_json_dumps"}
    seen, todo, hits = set(), [methods["write"]], []
    while todo:
        fn = todo.pop()
        if fn.name in seen:
            continue
        seen.add(fn.name)
        for node in ast.walk(fn):
            if isinstance(node, ast.Attribute):
                if node.attr in ("to_pylist", "dumps"):
                    hits.append(f"{fn.name}:{node.lineno} .{node.attr}")
                self_call = isinstance(node.value, ast.Name) and node.value.id == "self"
                if self_call and node.attr in methods:
                    todo.append(methods[node.attr])
            elif isinstance(node, ast.Name) and node.id in funcs and node.id not in per_value:
                todo.append(funcs[node.id])
    assert hits == []
    assert {"_hit_lines", "_json_values", "_fold_stats"} <= seen  # the walk reached the encoder


def test_status_schema_types_stay_off_the_python_path(monkeypatch):
    """Every column type of the status schema, plus int32, float32, bool,
    date and zone-less timestamps, encodes without ``_python_values``;
    null ids take the ``tag:n`` numbering, also without it."""
    import pyarrow as pa

    import es_ch_sync_spark.io.es_datasource as es_ds

    def per_value(*_):
        raise AssertionError("per-value Python path taken")

    monkeypatch.setattr(es_ds, "_python_values", per_value)
    sample = {
        pa.string(): "x", pa.int64(): 7, pa.float64(): 1.5,
        pa.timestamp("us", tz="UTC"): datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc),
    }
    cols = {}
    for f in _T.StructType.fromDDL(es_ds.DEFAULT_STATUS_DDL).fields:
        t = es_ds._arrow_type(f.dataType)
        cols[f.name] = pa.array([sample[t], None, sample[t]], t)
    cols["es_id"] = pa.array(["a", None, "c"])
    cols.update(
        i32=pa.array([1, None, -1], pa.int32()),
        f32=pa.array([0.5, None, float("nan")], pa.float32()),
        flag=pa.array([True, None, False]),
        day=pa.array([datetime(2024, 1, 2).date(), None, None]),
        ntz=pa.array([datetime(2024, 1, 2), None, None], pa.timestamp("us")),
    )
    for id_col in ("es_id", "i32"):
        lines = es_ds._hit_lines(pa.record_batch(cols), "events", id_col, "t", 5)
        assert [json.loads(x)["_id"] for x in lines.to_pylist()][1] == "t:6"
