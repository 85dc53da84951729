"""The streaming sync (``--streaming``): files arrive in waves, every
micro-batch merges into the signal table through io/sinks.write_signals,
and the stream resumes from its checkpoint.  The table must equal what
batch CLI runs over the same files leave, for both output formats: after
replays, re-runs on the same or a fresh checkpoint, corrected values and
batch runs into the same table — the reference's resume + merge semantics
(sync.go:128-137 + ReplacingMergeTree)."""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest

from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG
from es_ch_sync_spark.fixtures import DEVICE_STATUS_SCHEMA, device_dim_df, device_status_df
from es_ch_sync_spark.streaming.sync_stream import (
    build_signal_stream,
    read_status_stream,
    start_signal_stream,
)
from es_ch_sync_spark.streaming.util import drain

S, R = 4, 50
K = len(DEVICE_STATUS_CATALOG)
FORMATS = ["parquet", "txlog"]
WINDOW = ["--start", "2019-12-01T00:00:00Z", "--stop", "2020-02-01T00:00:00Z"]


def _main(argv: list[str]) -> None:
    from es_ch_sync_spark.job.main import main

    with contextlib.redirect_stdout(io.StringIO()):
        assert main(argv) == 0


def _stream(src: str, dim: str, out: str, ckpt: str, fmt: str) -> None:
    _main(["--source", src, "--dim", dim, "--out", out, "--out-format", fmt,
           "--streaming", "--checkpoint", ckpt])


def _batch(src: str, dim: str, out: str, fmt: str) -> None:
    _main(["--source", src, "--dim", dim, "--out", out, "--out-format", fmt, *WINDOW])


def _table(spark, out: str, fmt: str):
    from es_ch_sync_spark.io import txlog as tx

    if fmt == "txlog":
        return tx.read_table(spark, out)
    return spark.read.parquet(out).drop("event_date")


def _assert_equal(spark, got: str, want: str, fmt: str) -> None:
    g, w = _table(spark, got, fmt), _table(spark, want, fmt)
    assert g.exceptAll(w).count() == 0
    assert w.exceptAll(g).count() == 0
    n = g.count()
    assert n == w.count() == g.select("token_id", "timestamp", "name").distinct().count()


def _wave(spark, src: str, name: str, seed: int, subjects: int = S, first: int = 1):
    """One source file of ``subjects`` devices numbered from ``first``;
    every 30th document is malformed."""
    df = device_status_df(spark, subjects=subjects, rows_per_subject=R, malformed_every=30, seed=seed)
    if first != 1:
        from pyspark.sql import functions as F

        df = df.withColumn("subject", (F.col("subject").cast("long") + first - 1).cast("string"))
    df.coalesce(1).write.parquet(os.path.join(src, name))
    return df


@pytest.fixture
def dirs(spark, tmp_path):
    dim = str(tmp_path / "dim")
    device_dim_df(spark, subjects=2 * S).write.parquet(dim)
    return {"root": tmp_path, "src": str(tmp_path / "src"), "dim": dim}


def _src_glob(src: str) -> str:
    return os.path.join(src, "*")


def test_streaming_sync_dedup_and_resume(spark, tmp_path):
    """Identical data re-delivered in a second file, read after a
    checkpointed restart, leaves one row per key: the table a batch run
    over the first file writes."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "signals")
    ckpt = str(tmp_path / "ckpt")

    wave1 = device_status_df(spark, subjects=S, rows_per_subject=R, malformed_every=0, seed=1)
    wave1.coalesce(1).write.parquet(src)
    dim = device_dim_df(spark, subjects=S)

    def run():
        stream = read_status_stream(spark, src, DEVICE_STATUS_SCHEMA)
        signals = build_signal_stream(stream, DEVICE_STATUS_CATALOG, dim)
        drain(start_signal_stream(signals, out, ckpt), 120)

    run()
    got1 = spark.read.parquet(out)
    assert got1.count() == S * R * K  # 4*50*18
    assert got1.select("token_id", "timestamp", "name").distinct().count() == S * R * K
    rows1 = sorted(map(tuple, got1.collect()))  # the merge replaces got1's files

    wave1.coalesce(1).write.mode("append").parquet(src)
    run()
    got2 = spark.read.parquet(out)
    assert got2.select("token_id", "timestamp", "name").distinct().count() == S * R * K
    assert got2.count() == S * R * K
    assert sorted(map(tuple, got2.collect())) == rows1


@pytest.mark.parametrize("fmt", FORMATS)
def test_stream_equals_batch_across_reruns_and_checkpoints(spark, dirs, fmt):
    """The stream's table equals a batch run's over the same files after
    the first run, a re-run on the same checkpoint, a run on a fresh
    checkpoint, and a fresh-checkpoint run over a source that gained a
    file of new devices."""
    root, src, dim = dirs["root"], dirs["src"], dirs["dim"]
    out, want = str(root / "stream"), str(root / "batch")
    _wave(spark, src, "w1", seed=1)
    _stream(_src_glob(src), dim, out, str(root / "ckpt1"), fmt)
    _batch(_src_glob(src), dim, want, fmt)
    _assert_equal(spark, out, want, fmt)

    _stream(_src_glob(src), dim, out, str(root / "ckpt1"), fmt)
    _assert_equal(spark, out, want, fmt)
    _stream(_src_glob(src), dim, out, str(root / "ckpt2"), fmt)
    _assert_equal(spark, out, want, fmt)

    _wave(spark, src, "w2", seed=2, first=S + 1)
    _stream(_src_glob(src), dim, out, str(root / "ckpt3"), fmt)
    want2 = str(root / "batch2")
    _batch(_src_glob(src), dim, want2, fmt)
    assert _table(spark, want2, fmt).count() > _table(spark, want, fmt).count()
    _assert_equal(spark, out, want2, fmt)


@pytest.mark.parametrize("fmt", FORMATS)
def test_stream_corrected_value_wins(spark, dirs, fmt):
    """A later source file that re-emits documents with a corrected value:
    the next stream run keeps the correction, as batch runs over the two
    files in the same order do."""
    from pyspark.sql import functions as F

    root, src, dim = dirs["root"], dirs["src"], dirs["dim"]
    out, want = str(root / "stream"), str(root / "batch")
    w1 = _wave(spark, src, "w1", seed=1)
    _stream(_src_glob(src), dim, out, str(root / "ckpt"), fmt)
    fixed = w1.filter(~F.col("is_malformed")).limit(10).withColumn("data_speed", F.lit(999).cast("long"))
    fixed.coalesce(1).write.parquet(os.path.join(src, "w2"))
    _stream(_src_glob(src), dim, out, str(root / "ckpt"), fmt)

    _batch(os.path.join(src, "w1"), dim, want, fmt)
    _batch(os.path.join(src, "w2"), dim, want, fmt)
    got = _table(spark, out, fmt)
    assert got.filter((F.col("name") == "speed") & (F.col("value_number") == 999)).count() == 10
    _assert_equal(spark, out, want, fmt)


@pytest.mark.parametrize("fmt", FORMATS)
def test_batch_and_stream_share_a_table(spark, dirs, fmt):
    """Batch then stream, and stream then batch, into one table: each
    leaves it readable and equal to one batch run's output."""
    root, src, dim = dirs["root"], dirs["src"], dirs["dim"]
    _wave(spark, src, "w1", seed=1)
    want = str(root / "once")
    _batch(_src_glob(src), dim, want, fmt)

    first_batch = str(root / "batch_then_stream")
    _batch(_src_glob(src), dim, first_batch, fmt)
    _stream(_src_glob(src), dim, first_batch, str(root / "ckpt1"), fmt)
    _assert_equal(spark, first_batch, want, fmt)

    first_stream = str(root / "stream_then_batch")
    _stream(_src_glob(src), dim, first_stream, str(root / "ckpt2"), fmt)
    _batch(_src_glob(src), dim, first_stream, fmt)
    _assert_equal(spark, first_stream, want, fmt)


def _tree_bytes(root: str) -> dict[str, bytes]:
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                files[os.path.relpath(p, root)] = f.read()
    return files


def test_merge_refuses_a_file_sink_log(spark, dirs):
    """A table written by a Structured Streaming file sink keeps its file
    list in ``_spark_metadata``.  A merge into it, batch or stream, raises
    naming that log and leaves every byte of the table as it was."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from es_ch_sync_spark.io.sinks import write_signals

    root, src, dim = dirs["root"], dirs["src"], dirs["dim"]
    _wave(spark, src, "w1", seed=1)
    out = str(root / "file_sink_table")
    signals = build_signal_stream(
        read_status_stream(spark, _src_glob(src), DEVICE_STATUS_SCHEMA),
        DEVICE_STATUS_CATALOG, spark.read.parquet(dim),
    )
    drain(
        signals.withColumn("event_date", F.to_date("timestamp"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(root / "file_sink_ckpt"))
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start(),
        120,
    )
    log = os.path.join(out, "_spark_metadata")
    assert os.path.isdir(log)
    before = _tree_bytes(out)

    batch = _table(spark, out, "parquet")
    window = (datetime(2019, 12, 1, tzinfo=timezone.utc), datetime(2020, 2, 1, tzinfo=timezone.utc))
    with pytest.raises(ValueError, match=re.escape(log)):
        write_signals(batch, out, window)
    with pytest.raises(ValueError, match=re.escape(log)):
        _batch(_src_glob(src), dim, out, "parquet")
    with pytest.raises(ValueError, match=re.escape(log)):
        _stream(_src_glob(src), dim, out, str(root / "ckpt"), "parquet")
    assert _tree_bytes(out) == before


def test_streaming_document_dedup(spark, tmp_path):
    """Content-duplicate documents re-delivered across waves (different
    ids, same text) must be absorbed by the streaming fingerprint dedup;
    distinct contents all survive."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.streaming.dedup_stream import dedup_document_stream

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")

    base = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body number "), (F.col("id") % 25).cast("string")).alias(
            "text"
        ),  # 25 distinct contents across 40 rows
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ingest_ts"),
    )
    base.coalesce(1).write.parquet(src)
    # replay wave: same contents, new ids, 10 min later (inside watermark)
    base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        "text",
        (F.col("ingest_ts") + F.expr("INTERVAL 10 MINUTES")).alias("ingest_ts"),
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string, ingest_ts timestamp")
        .format("parquet")
        .load(src)
    )
    deduped = dedup_document_stream(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.select("fp").distinct().count() == 25
    assert got.count() == 25  # exactly one survivor per content


def test_streaming_ntz_event_time(spark, tmp_path):
    """The stream must survive TIMESTAMP_NTZ event time — the exact type
    the testdata parquet carries.  The NTZ→LTZ normalization
    happens inside build_signal_stream; the test supplies raw NTZ input
    and asserts the stream runs and dedups without any casting help."""
    from pyspark.sql import types as T

    from es_ch_sync_spark.catalog import SignalCatalog, SignalDef

    src = str(tmp_path / "ntz_src")
    wide = spark.sql(
        """
        SELECT id AS subject,
               timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS time,
               double(id) AS speed,
               'ntz' AS src
        FROM range(20)
        """
    )
    assert isinstance(wide.schema["time"].dataType, T.TimestampNTZType)
    wide.coalesce(1).write.parquet(src)
    # the same rows a second time: the merge must absorb them
    wide.coalesce(1).write.mode("append").parquet(src)

    cat = SignalCatalog([SignalDef("speed", "speed", "number")])
    stream = read_status_stream(spark, src, wide.schema)
    signals = build_signal_stream(
        stream, cat, device_dim=None, subject_col="subject", ts_col="time", source_col="src"
    )
    assert isinstance(signals.schema["timestamp"].dataType, T.TimestampType)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    drain(start_signal_stream(signals, out, ckpt), 120)
    got = spark.read.parquet(out)
    assert got.count() == 20  # replay deduped


def test_streaming_sync_through_es_status_connector(spark, tmp_path):
    """The reference's FULL continuous loop through the custom connector:
    status docs exported as ES hit NDJSON → readStream
    format("es_status") (file-offset micro-batches) → dim join + unpivot
    → write_signals per micro-batch; the result must equal the batch
    transform over the same documents."""
    from es_ch_sync_spark.fixtures import device_dim_df, device_status_df
    from es_ch_sync_spark.io.es_datasource import write_es_status
    from es_ch_sync_spark.io.es_datasource import read_es_status_stream
    from es_ch_sync_spark.operators.dimjoin import resolve_tokens
    from es_ch_sync_spark.operators.transform import unpivot_signals

    src = str(tmp_path / "es_export")
    out = str(tmp_path / "signals")
    ckpt = str(tmp_path / "ckpt")

    docs = device_status_df(
        spark, subjects=S, rows_per_subject=20, malformed_every=0, seed=3
    ).drop("is_malformed")
    write_es_status(docs.withColumn("es_id", docs["id"]), src, mode="overwrite")

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in docs.schema.fields)
    dim = device_dim_df(spark, subjects=S)
    stream = read_es_status_stream(spark, src, ddl)
    signals = build_signal_stream(stream, DEVICE_STATUS_CATALOG, dim)
    drain(start_signal_stream(signals, out, ckpt), 120)

    got = spark.read.parquet(out).drop("event_date")
    resolved, _ = resolve_tokens(docs, dim)
    want = unpivot_signals(
        resolved, DEVICE_STATUS_CATALOG, token_col="token_id",
        ts_col="time", source_col="source",
    ).dropDuplicates(["token_id", "timestamp", "name"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
