"""The sync CLI (job/main.py) end to end over an ES hit export written by
``write_es_status``: re-emitted duplicates, unresolved subjects, one
malformed line and one export file outside the run's window.

Expected numbers are computed in plain Python from the generated
documents; the written tables are read back with pyarrow.  What the CLI
did is read from Spark's status store: the export is parsed by exactly
one stage, and no cache outlives ``main``."""

from __future__ import annotations

import contextlib
import glob
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


def _argv(
    export: dict, out: str, *extra: str, start: datetime = START, stop: datetime = STOP
) -> list[str]:
    return [
        "--source", export["source"], "--source-format", "es_status",
        "--dim", export["dim"], "--out", out,
        "--start", start.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "--stop", stop.strftime("%Y-%m-%dT%H:%M:%SZ"),
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
    """The txlog output is written by one merge commit whose plan holds
    exactly one min(struct) dedup."""
    from es_ch_sync_spark.io import txlog as tx

    plans = []
    real_write = tx._write_data_files

    def spy(df, table):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_write(df, table)

    monkeypatch.setattr(tx, "_write_data_files", spy)
    out = str(export["root"] / "signal_tx")
    stdout = _run_main(spark, _argv(export, out, "--out-format", "txlog"), "sync-cli-tx")

    want = _expected_signals(export["docs"])
    assert stdout.strip() == f"synced: {want} signal rows at {out}"
    assert tx.read_table(spark, out).count() == want
    assert [h["op"] for h in tx.table_history(out)] == ["merge"]
    (plan,) = plans
    assert plan.count("functions=[min(struct") == 1, plan
    assert plan.count("functions=[partial_min(struct") == 1, plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Re-runs: the reference resumes from the oldest synced timestamp and its
# ReplacingMergeTree absorbs the overlap, so syncing a window twice, or
# overlapping windows, must leave the table equal to one run's output.

FORMATS = ["parquet", "txlog"]


def _table(spark, out: str, fmt: str):
    from es_ch_sync_spark.io import txlog as tx

    if fmt == "txlog":
        return tx.read_table(spark, out)
    return spark.read.parquet(out).drop("event_date")


def _data_files(out: str, fmt: str) -> list[str]:
    from es_ch_sync_spark.io import txlog as tx

    if fmt == "txlog":
        return [os.path.join(out, f) for f in tx.snapshot_files(out)]
    return sorted(glob.glob(os.path.join(out, "event_date=*", "*.parquet")))


def _assert_equal_tables(spark, got: str, want: str, fmt: str) -> None:
    import duckdb

    g, w = _table(spark, got, fmt), _table(spark, want, fmt)
    assert g.exceptAll(w).count() == 0
    assert w.exceptAll(g).count() == 0
    n, keys = duckdb.sql(
        "SELECT count(*), count(DISTINCT (token_id, timestamp, name)) "
        f"FROM read_parquet({_data_files(got, fmt)!r})"
    ).fetchone()
    assert n == keys == w.count() == _expected_signals_total(), (n, keys)


def _expected_signals_total() -> int:
    docs, _ = _docs()
    return _expected_signals(docs)


def _single_run(spark, export: dict, fmt: str) -> str:
    out = str(export["root"] / f"single_{fmt}")
    if not os.path.exists(out):
        _run_main(spark, _argv(export, out, "--out-format", fmt), f"single-{fmt}")
    return out


@pytest.mark.parametrize("fmt", FORMATS)
def test_cli_rerun_same_window_is_idempotent(spark, export, fmt):
    out = str(export["root"] / f"twice_{fmt}")
    for k in range(2):
        _run_main(spark, _argv(export, out, "--out-format", fmt), f"twice-{fmt}-{k}")
    _assert_equal_tables(spark, out, _single_run(spark, export, fmt), fmt)


@pytest.mark.parametrize("fmt", FORMATS)
def test_cli_overlapping_windows_equal_one_run(spark, export, fmt):
    """[START, +30h) then [+26h, STOP): the second window touches only the
    second day, and a parquet run reads only that day's partition: the one
    stage that scans the export reads its lines plus that partition's rows,
    not the whole table's."""
    out = str(export["root"] / f"overlap_{fmt}")
    first_stop, second_start = START + timedelta(hours=30), START + timedelta(hours=26)
    _run_main(spark, _argv(export, out, "--out-format", fmt, stop=first_stop), f"ov1-{fmt}")
    if fmt == "parquet":
        day2 = pq.read_table(os.path.join(out, "event_date=2024-03-02")).num_rows
        total = pq.read_table(out).num_rows
        assert 0 < day2 < total
    group = f"ov2-{fmt}"
    _run_main(spark, _argv(export, out, "--out-format", fmt, start=second_start), group)
    _assert_equal_tables(spark, out, _single_run(spark, export, fmt), fmt)
    if fmt == "parquet":
        lines = 0
        for f in export_files(export["source"], second_start, STOP):
            with open(f) as fh:
                lines += sum(1 for _ in fh)
        reads = _stage_input_records(spark, group)
        assert max(reads) == lines + day2, (reads, lines, day2, total)


@pytest.fixture(scope="module")
def corrected(spark, export):
    """A re-export of the same documents in which one value changed."""
    from pyspark.sql import types as T

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
    (doc,) = [d for d in export["docs"] if d["es_id"] == "e50"]
    assert doc["subject"] in RESOLVED and doc["data_speed"] is not None
    docs = [dict(d, data_speed=777) if d is doc else d for d in export["docs"]]
    src = str(export["root"] / "export_corrected")
    write_es_status(
        spark.createDataFrame(docs, schema).repartition(2),
        src, mode="overwrite", statscolumns="time",
    )
    name = {d.source_field: d.name for d in DEVICE_STATUS_CATALOG.defs}["data_speed"]
    return {**export, "source": src, "key": (RESOLVED[doc["subject"]], doc["time"], name)}


@pytest.mark.parametrize("fmt", FORMATS)
def test_cli_reexport_keeps_the_corrected_value(spark, export, corrected, fmt):
    from pyspark.sql import functions as F

    out = str(export["root"] / f"corrected_{fmt}")
    _run_main(spark, _argv(export, out, "--out-format", fmt), f"corr1-{fmt}")
    _run_main(spark, _argv(corrected, out, "--out-format", fmt), f"corr2-{fmt}")
    got, want = _table(spark, out, fmt), _table(spark, _single_run(spark, export, fmt), fmt)
    token, ts, name = corrected["key"]
    at_key = (F.col("token_id") == token) & (F.col("timestamp") == ts) & (F.col("name") == name)
    (row,) = got.filter(at_key).collect()
    assert row["value_number"] == 777.0
    (old,) = want.filter(at_key).collect()
    assert old["value_number"] != 777.0
    # every other row is the single run's
    assert got.filter(~at_key).exceptAll(want.filter(~at_key)).count() == 0
    assert want.filter(~at_key).exceptAll(got.filter(~at_key)).count() == 0
    assert got.count() == want.count()


# Side outputs re-run like the signal table: each quarantine holds one
# run's rows, whatever the runs and their windows.

QUARANTINES = ("", "_es", "_dim")


def _jsonl_dim(export: dict) -> str:
    path = export["root"] / "subjects.jsonl"
    if not path.exists():
        lines = [f'{{"id": "{s}", "token_id": {t}}}' for s, t in sorted(RESOLVED.items())]
        path.write_text("\n".join([*lines, '{"id": "s9", "token_id": ']) + "\n")
    return str(path)


def _quarantine_run(spark, export: dict, name: str, windows) -> str:
    quar = str(export["root"] / f"q_{name}")
    out = str(export["root"] / f"q_{name}_signal")
    for k, (start, stop) in enumerate(windows):
        argv = _argv(export, out, "--quarantine", quar, start=start, stop=stop)
        argv[argv.index("--dim") + 1] = _jsonl_dim(export)
        _run_main(spark, argv, f"q-{name}-{k}")
    return quar


def test_quarantines_hold_one_runs_rows(spark, export):
    once = _quarantine_run(spark, export, "once", [(START, STOP)])
    twice = _quarantine_run(spark, export, "twice", [(START, STOP)] * 2)
    overlap = _quarantine_run(
        spark, export, "overlap",
        [(START, START + timedelta(hours=30)), (START + timedelta(hours=26), STOP)],
    )
    unresolved = sum(
        1 for d in export["docs"] if d["subject"] not in RESOLVED and START <= d["time"] < STOP
    )
    counts = {"": unresolved, "_es": 1, "_dim": 1}
    for suffix in QUARANTINES:
        want = spark.read.parquet(once + suffix)
        assert want.count() == counts[suffix]
        for got_path in (twice, overlap):
            got = spark.read.parquet(got_path + suffix)
            assert got.count() == counts[suffix], (got_path, suffix)
            assert got.exceptAll(want).count() == 0, (got_path, suffix)
            assert want.exceptAll(got).count() == 0, (got_path, suffix)


def test_cli_without_dim_quarantines_non_integer_subjects(spark, export):
    """Without --dim the subject is the token id: a subject that is not an
    integer goes to the quarantine instead of failing the run's cast."""
    from pyspark.sql import functions as F

    src = str(export["root"] / "export_nodim")
    docs = spark.createDataFrame(
        [("e1", "17", START, 50), ("e2", "0xdev001117", START, 60), ("e3", "18", STOP, 70)],
        "es_id string, subject string, time timestamp, data_speed bigint",
    )
    write_es_status(docs.coalesce(1), src, mode="overwrite")
    out, quar = str(export["root"] / "nodim_signal"), str(export["root"] / "nodim_q")
    argv = _argv({**export, "source": src}, out, "--quarantine", quar)
    del argv[argv.index("--dim"):argv.index("--dim") + 2]
    stdout = _run_main(spark, argv, "sync-cli-nodim")
    assert stdout.strip() == f"synced: 1 signal rows at {out}"
    (row,) = spark.read.parquet(out).collect()
    assert (row["token_id"], row["name"], row["value_number"]) == (17, "speed", 50.0)
    q = spark.read.parquet(quar)
    assert [r.subject for r in q.select("subject").collect()] == ["0xdev001117"]
    assert q.filter(F.col("subject") == "18").count() == 0  # outside the window
