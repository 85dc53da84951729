"""IO-layer tests: PERMISSIVE JSON quarantine (T3 at the source boundary)
and the signal sink's partition layout + pruning."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_ch_sync_spark.io.sinks import read_signals, write_signals
from es_ch_sync_spark.io.sources import CORRUPT_COL, read_status_json
from es_ch_sync_spark.operators.transform import split_quarantine

SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("data_speed", T.LongType()),
    ]
)


def test_permissive_json_quarantine(spark, tmp_path):
    """Malformed JSON documents land in the corrupt-record column and are
    split off, never failing the read (reference: log-drop-continue,
    sync.go:192-204)."""
    p = tmp_path / "docs.json"
    lines = [
        json.dumps({"subject": "1", "time": "2024-01-01T00:00:00Z", "data_speed": 42}),
        '{"subject": "2", "time": "2024-01-01T00:00:01Z", "data_speed": }',  # broken
        "not json at all",
        json.dumps({"subject": "3", "time": "2024-01-01T00:00:02Z", "data_speed": 7}),
    ]
    p.write_text("\n".join(lines))

    df = read_status_json(spark, str(p), SCHEMA)
    clean, bad = split_quarantine(df, corrupt_col=CORRUPT_COL)
    assert clean.count() == 2
    assert bad.count() == 2
    assert {r["subject"] for r in clean.collect()} == {"1", "3"}
    # quarantined rows keep the raw text for forensics
    assert all(r[CORRUPT_COL] for r in bad.collect())


def test_signal_sink_layout_and_pruning(spark, tmp_path):
    """write_signals produces event_date partitions; a date filter prunes
    the scan to matching partitions (the S3 predicate's 100 TB path)."""
    from datetime import datetime, timezone

    rows = [
        (1, datetime(2024, 1, 1, 10, tzinfo=timezone.utc), "speed", "s", 1.0, None),
        (1, datetime(2024, 1, 2, 10, tzinfo=timezone.utc), "speed", "s", 2.0, None),
        (2, datetime(2024, 1, 2, 11, tzinfo=timezone.utc), "speed", "s", 3.0, None),
        # duplicate key — must be absorbed by dedup-on-write
        (1, datetime(2024, 1, 1, 10, tzinfo=timezone.utc), "speed", "s", 1.0, None),
    ]
    schema = T.StructType(
        [
            T.StructField("token_id", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("name", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("value_number", T.DoubleType()),
            T.StructField("value_string", T.StringType()),
        ]
    )
    out = str(tmp_path / "signal")
    write_signals(spark.createDataFrame(rows, schema), out, mode="overwrite")

    back = read_signals(spark, out)
    assert back.count() == 3  # dedup-on-write absorbed the duplicate

    import os

    parts = sorted(d for d in os.listdir(out) if d.startswith("event_date="))
    assert parts == ["event_date=2024-01-01", "event_date=2024-01-02"]

    pruned = back.filter(F.col("event_date") == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (PartitionFilters), not a post-scan Filter
    assert "PartitionFilters: [isnotnull(event_date" in plan
    assert pruned.count() == 2

    # idempotent re-append: anti-join against existing leaves the table unchanged
    write_signals(spark.createDataFrame(rows, schema), out, existing=back)
    assert read_signals(spark, out).count() == 3


def test_es_export_reader_unwraps_and_quarantines(spark, tmp_path):
    """elasticdump-style NDJSON: _source unwrapped to columns, _id kept,
    malformed lines quarantined (T3 contract at the export boundary)."""
    import json

    from pyspark.sql import types as T

    from es_ch_sync_spark.io.sources import read_es_hits, split_es_hits

    p = tmp_path / "export.ndjson"
    lines = [
        json.dumps({"_id": "a1", "_index": "status", "_source": {"subject": "v1", "speed": 12.5}}),
        json.dumps({"_id": "a2", "_index": "status", "_source": {"subject": "v2", "speed": 33.0}}),
        '{"_id": broken',
    ]
    p.write_text("\n".join(lines))
    schema = T.StructType(
        [T.StructField("subject", T.StringType()), T.StructField("speed", T.DoubleType())]
    )
    docs, quar = split_es_hits(read_es_hits(spark, str(p), schema))
    rows = {r["es_id"]: (r["subject"], r["speed"]) for r in docs.collect()}
    assert rows == {"a1": ("v1", 12.5), "a2": ("v2", 33.0)}
    assert set(docs.columns) == {"es_id", "es_index", "subject", "speed"}
    assert quar.count() == 1


def test_device_dim_loader_golden(spark, tmp_path):
    """subjects.jsonl → device_dim golden path: resolvable subjects join,
    negative-cache entries (token_id null) and dump-absent subjects land in
    the unresolved quarantine, malformed lines in the loader quarantine,
    and a duplicate subject collapses with non-null token winning."""
    import json

    from pyspark.sql import functions as F

    from es_ch_sync_spark.io.sources import read_device_dim
    from es_ch_sync_spark.operators.dimjoin import resolve_tokens

    p = tmp_path / "subjects.jsonl"
    lines = [
        json.dumps({"id": "v1", "token_id": 101}),
        json.dumps({"id": "v2", "token_id": None}),  # negative-cache entry
        json.dumps({"id": "v3", "token_id": 103}),
        json.dumps({"id": "v3"}),  # stale negative dup — non-null must win
        '{"id": broken',  # malformed → loader quarantine
        json.dumps({"id": None, "token_id": 999}),  # well-formed, null id
    ]
    p.write_text("\n".join(lines))

    dim, quar = read_device_dim(spark, str(p))
    got = {r["subject"]: r["token_id"] for r in dim.collect()}
    assert got == {"v1": 101, "v2": None, "v3": 103}
    # both failure shapes quarantined, and BOTH stay inspectable: the
    # malformed line keeps its raw text, the null-id row is reconstructed
    # from its parsed columns (not lost as a NULL _corrupt_record)
    raws = [r["raw"] for r in quar.collect()]
    assert len(raws) == 2 and all(r is not None for r in raws)
    assert any("broken" in r for r in raws)
    assert any("999" in r for r in raws)

    facts = spark.createDataFrame(
        [("v1", 1.0), ("v2", 2.0), ("v3", 3.0), ("v9", 9.0)], ["subject", "speed"]
    )
    resolved, unresolved = resolve_tokens(facts, dim)
    assert {r["subject"]: r["token_id"] for r in resolved.collect()} == {"v1": 101, "v3": 103}
    # v2 = cached miss, v9 = never seen: both quarantined, neither fatal
    assert {r["subject"] for r in unresolved.collect()} == {"v2", "v9"}
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_corpus_shard_export(spark, sf_dir, tmp_path):
    """Token-balanced shard export: partition dirs per shard, every doc in
    exactly one shard, per-shard token sums match the manifest, shard
    boundaries respect the budget (each shard's first doc starts inside
    its shard's token span), and in-file order is the global stream
    order."""
    from es_ch_sync_spark.io.sinks import write_corpus_shards
    from es_ch_sync_spark.io.sources import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    budget = 5_000
    n_docs, n_shards = write_corpus_shards(docs, out, shard_tokens=budget)
    assert n_docs == docs.count() and n_shards >= 2

    back = spark.read.parquet(f"{out}/data")
    assert back.count() == n_docs
    man = {r["shard"]: r for r in spark.read.parquet(f"{out}/manifest").collect()}
    assert len(man) == n_shards

    got = (
        back.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t"))
        .collect()
    )
    for r in got:
        assert man[r["shard"]]["n_docs"] == r["n"]
        assert man[r["shard"]]["n_tokens"] == r["t"]
    # every shard's first offset lies inside its token span
    for s, r in man.items():
        assert r["first_offset"] // budget == s


def test_signal_sink_timestamps_carry_footer_stats(spark, tmp_path):
    """The sink's row-group-skipping claim is only real if timestamp
    columns carry parquet min/max statistics — INT96 (Spark's default
    output type) has NONE.  Pin that written files use TIMESTAMP_MICROS
    with populated stats (r5; same reason the txlog writer switched)."""
    import datetime
    import glob

    import pyarrow.parquet as pq

    from es_ch_sync_spark.io.sinks import write_signals

    sig = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 2, 1 + i % 3, 6 + i), "speed", "s", float(i), None)
            for i in range(12)
        ],
        "token_id long, timestamp timestamp, name string, source string, "
        "value_number double, value_string string",
    )
    path = str(tmp_path / "signals")
    write_signals(sig, path, mode="overwrite")
    files = glob.glob(f"{path}/event_date=*/**/*.parquet", recursive=True) or glob.glob(
        f"{path}/event_date=*/*.parquet"
    )
    assert files
    checked = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema == "timestamp":
                    assert col.physical_type == "INT64", col.physical_type
                    st = col.statistics
                    assert st is not None and st.has_min_max
                    checked += 1
    assert checked > 0


def test_jsonl_roundtrip_quarantines_corrupt_lines(spark, tmp_path):
    """A mangled JSONL line lands in the corrupt column with every typed
    field null — per-record isolation, never a job failure; clean rows
    round-trip exactly."""
    from es_ch_sync_spark.io.sources import write_read_jsonl

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "id bigint, name string, v double"
    )
    path = str(tmp_path / "jl")
    write_read_jsonl(df, path, "id bigint, name string, v double")
    # plant a corrupt line as its OWN file (appending to a part file would
    # trip hadoop's .crc checksum sidecar, which is itself a nice property)
    with open(f"{path}/extra-corrupt.json", "w") as fh:
        fh.write('{"id": 3, "name": "c", "v": not-json}\n')
    back = (
        spark.read.schema("id bigint, name string, v double, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    rows = back.collect()
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    ok = [r for r in rows if r["_corrupt_record"] is None]
    assert len(bad) == 1 and bad[0]["id"] is None
    assert sorted((r["id"], r["name"], r["v"]) for r in ok) == [
        (1, "a", 1.5), (2, "b", None)
    ]


def test_avro_reader_gated_with_deploy_instruction(spark, tmp_path):
    """Without the external spark-avro jar the reader raises
    NotImplementedError naming the --packages coordinate (honest gate,
    like the JPEG/MP4 codecs) — or, if a jar IS present, reads fine."""
    import pytest

    from es_ch_sync_spark.io.sources import read_avro_table

    try:
        spark.range(3).write.format("avro").mode("overwrite").save(
            str(tmp_path / "av")
        )
    except Exception:
        with pytest.raises(NotImplementedError, match="spark-avro"):
            read_avro_table(spark, str(tmp_path / "missing"))
        return
    assert read_avro_table(spark, str(tmp_path / "av")).count() == 3
