"""The sync CLI (job/main.py) end to end over an ES hit export written by
``write_es_status``: re-emitted duplicates, unresolved subjects, one
malformed line and one export file outside the run's window.

Expected numbers are computed in plain Python from the generated
documents; the written tables are read back with pyarrow.  What the CLI
did is read from Spark's status store: the export is parsed by exactly
one stage, and no cache outlives ``main``."""

from __future__ import annotations

import contextlib
import io
import os
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest

from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG
from es_ch_sync_spark.io.es_datasource import export_files, write_es_status

START = datetime(2024, 3, 1, tzinfo=timezone.utc)
STOP = START + timedelta(days=2)
RESOLVED = {"s1": 1, "s2": 2, "s3": 3, "s4": 4}
SUBJECTS = [*RESOLVED, "s5", "s6"]  # s5, s6: missing from the dim
FIELDS = ("data_speed", "data_odometer", "data_make")
MALFORMED = '{"_id": "broken", "_source": {"subject": '


def _doc(n: int, subject: str, t: datetime, src: str = "r1") -> dict:
    return {
        "es_id": f"e{n}",
        "subject": subject,
        "source": src,
        "time": t,
        "data_speed": n % 90 if n % 4 else None,
        "data_odometer": float(n) * 1.5 if n % 5 else None,
        "data_make": ["Ford", "Tesla", None][n % 3],
    }


def _docs() -> tuple[list[dict], list[dict]]:
    """(in-window docs incl. duplicates, docs of the out-of-window file)."""
    docs = [
        _doc(n, SUBJECTS[n % len(SUBJECTS)], START + timedelta(minutes=37 * n))
        for n in range(120)
    ]
    # re-emitted documents (the sync overlap): identical payload, and one
    # conflicting copy whose source differs, under new hit ids
    again = [dict(d, es_id=d["es_id"] + "r") for d in docs[:30]]
    again += [dict(d, es_id=d["es_id"] + "x", source="r0") for d in docs[30:40]]
    old = [
        _doc(n, SUBJECTS[n % len(SUBJECTS)], START - timedelta(days=20, minutes=n))
        for n in range(1000, 1025)
    ]
    return docs + again, old


def _expected_signals(docs: list[dict]) -> int:
    field_names = {d.source_field: d.name for d in DEVICE_STATUS_CATALOG.defs}
    keys = {
        (RESOLVED[d["subject"]], d["time"], field_names[f])
        for d in docs
        if d["subject"] in RESOLVED and START <= d["time"] < STOP
        for f in FIELDS
        if d[f] is not None
    }
    return len(keys)


@pytest.fixture(scope="module")
def export(spark, tmp_path_factory):
    from pyspark.sql import types as T

    root = tmp_path_factory.mktemp("sync_cli")
    schema = T.StructType(
        [
            T.StructField("es_id", T.StringType()),
            T.StructField("subject", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("time", T.TimestampType()),
            T.StructField("data_speed", T.LongType()),
            T.StructField("data_odometer", T.DoubleType()),
            T.StructField("data_make", T.StringType()),
        ]
    )
    docs, old = _docs()
    src = str(root / "export")
    write_es_status(
        spark.createDataFrame(docs, schema).repartition(2),
        src, mode="overwrite", statscolumns="time",
    )
    in_window = sorted(os.listdir(src))
    write_es_status(spark.createDataFrame(old, schema).coalesce(1), src, statscolumns="time")
    (old_file,) = sorted(set(os.listdir(src)) - set(in_window))
    first = next(f for f in in_window if f.startswith("part-"))
    with open(os.path.join(src, first), "a") as f:
        f.write(MALFORMED + "\n")
    dim = str(root / "dim")
    spark.createDataFrame(
        sorted(RESOLVED.items()), "subject string, token_id bigint"
    ).coalesce(1).write.parquet(dim)
    return {
        "root": root, "source": src, "dim": dim, "docs": docs,
        "old_file": os.path.join(src, old_file), "lines": len(docs) + 1,
    }


def _argv(export: dict, out: str, *extra: str) -> list[str]:
    return [
        "--source", export["source"], "--source-format", "es_status",
        "--dim", export["dim"], "--out", out,
        "--start", START.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "--stop", STOP.strftime("%Y-%m-%dT%H:%M:%SZ"),
        *extra,
    ]


def _run_main(spark, argv: list[str], group: str) -> str:
    from es_ch_sync_spark.job.main import main

    spark.sparkContext.setJobGroup(group, group)
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            assert main(argv) == 0
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return buf.getvalue()


def _stage_input_records(spark, group: str) -> list[int]:
    """Input records of every completed stage of the group's jobs."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    records = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            it = store.stageData(sid, False, None, False, no_quantiles).iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() == "COMPLETE":
                    records.append(int(st.inputRecords()))
    return records


def test_out_of_window_file_is_not_planned(export):
    files = export_files(export["source"], START, STOP)
    assert export["old_file"] not in files
    assert len(files) == len(export_files(export["source"])) - 1


def test_cli_sync_end_to_end(spark, export):
    out = str(export["root"] / "signal")
    quar = str(export["root"] / "quarantine")
    stdout = _run_main(spark, _argv(export, out, "--quarantine", quar), "sync-cli-e2e")

    want = _expected_signals(export["docs"])
    assert want > 0
    assert stdout.strip() == f"synced: {want} signal rows at {out}"
    written = pq.read_table(out)
    assert written.num_rows == want
    keys = written.select(["token_id", "timestamp", "name"]).to_pylist()
    assert len({tuple(k.values()) for k in keys}) == want

    unresolved = [
        d for d in export["docs"] if d["subject"] not in RESOLVED and START <= d["time"] < STOP
    ]
    q = pq.read_table(quar)
    assert sorted(
        zip(q.column("subject").to_pylist(), q.column("time").to_pylist())
    ) == sorted((d["subject"], d["time"]) for d in unresolved)
    assert pq.read_table(quar + "_es").column("raw").to_pylist() == [MALFORMED]

    # parsed once, out-of-window file never read: exactly one stage reads
    # the in-window lines (the malformed one included) and none reads more
    reads = _stage_input_records(spark, "sync-cli-e2e")
    assert reads.count(export["lines"]) == 1, reads
    assert max(reads) == export["lines"], reads
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_txlog_branch_dedups_once(spark, export, monkeypatch):
    from es_ch_sync_spark.io import txlog as tx

    plans = []
    real_append = tx.txlog_append

    def spy(df, table, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_append(df, table, *a, **kw)

    monkeypatch.setattr(tx, "txlog_append", spy)
    out = str(export["root"] / "signal_tx")
    stdout = _run_main(spark, _argv(export, out, "--out-format", "txlog"), "sync-cli-tx")

    want = _expected_signals(export["docs"])
    assert stdout.strip() == f"synced: {want} signal rows at {out}"
    assert tx.read_table(spark, out).count() == want
    (plan,) = plans
    assert plan.count("functions=[min(struct") == 1, plan
    assert plan.count("functions=[partial_min(struct") == 1, plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
