"""``backfill``: the sync CLI over a one-week ES status export, the way
cron runs it — one ``python -m es_ch_sync_spark.job.main`` process with
its own JVM per timed operation.

Setup generates the corpus (``gen.status_table``) and writes it as an ES
hit export through the package's own writer
(``io.es_datasource.write_es_status``), plus a parquet device dim, in a
child process with its own Spark session (``python3 perfbench/backfill.py
<seed> <work_dir>``), ``SETUP_REPS`` times.  The expected signal count,
per-name counts and quarantine count come from DuckDB over the export;
every CLI run's output is checked against them outside the timed
region."""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
from pathlib import Path

import gen
import harness as H

N_DOCS = 50_000
N_TOKENS = 2_000
DAYS = 7
EXPORT_FILES = 8
SETUP_REPS = 3
WRITE_FIELDS = (
    "jobs", "stages", "tasks", "task_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "max_task_s", "median_task_s",
)


def cli_argv(work: Path, out: Path, quarantine: Path) -> list[str]:
    start, stop = gen.corpus_window(DAYS)
    fmt = "%Y-%m-%dT%H:%M:%SZ"
    return [
        "--source", str(work / "export"),
        "--source-format", "es_status",
        "--dim", str(work / "dim"),
        "--out", str(out),
        "--quarantine", str(quarantine),
        "--start", start.strftime(fmt),
        "--stop", stop.strftime(fmt),
    ]


def setup(spark, seed: int, work: Path) -> None:
    """Regenerate the export and the dim (the paths are wiped first: the
    es_status reader scans every export file in its directory)."""
    import pyarrow.parquet as pq

    from es_ch_sync_spark.io.es_datasource import write_es_status

    for d in ("export", "dim"):
        shutil.rmtree(work / d, ignore_errors=True)
    docs = spark.createDataFrame(gen.status_table(seed, N_DOCS, N_TOKENS, DAYS))
    write_es_status(docs.repartition(EXPORT_FILES, "es_id"), str(work / "export"), mode="overwrite")
    (work / "dim").mkdir()
    pq.write_table(gen.device_dim_table(seed, N_TOKENS), str(work / "dim" / "part-0.parquet"))


def setup_child(seed: int, work: Path) -> dict:
    """``SETUP_REPS`` setups in this process's own session; returns the
    seconds each took (the first one starts the session's Python workers)
    and the session's start time."""
    session = H.LazySession("perfbench-backfill-setup")
    try:
        spark = session()
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            setup(spark, seed, work)
            times.append(time.perf_counter() - t0)
    finally:
        session.stop()
    return {"setup_s": times, "session_s": session.start_s}


def run_setup(seed: int, work: Path) -> dict:
    """The setups in a child process, so that no JVM of the benchmark's
    own stays alive next to the CLI's."""
    cmd = [sys.executable, str(Path(__file__).resolve()), str(seed), str(work)]
    proc, _, _ = H.run_tree(cmd, work)
    if proc.returncode:
        raise RuntimeError(f"setup exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _name_fields() -> list[tuple[str, str]]:
    from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG

    return [(d.name, d.source_field) for d in DEVICE_STATUS_CATALOG.defs]


def expected(work: Path) -> dict:
    """Counts the sync must produce, computed by DuckDB from the export."""
    import duckdb

    con = duckdb.connect()
    fields = ", ".join(
        f"{f} {'VARCHAR' if f in ('data_make', 'data_model') else 'DOUBLE'}"
        for f in gen.DATA_FIELDS
    )
    files = sorted(glob.glob(str(work / "export" / "part-*.ndjson")))
    con.execute(
        f"""CREATE VIEW src AS
            SELECT _source.subject AS subject, CAST(_source.time AS TIMESTAMPTZ) AS ts,
                   _source.* EXCLUDE (subject, time)
            FROM read_json({files!r}, format='newline_delimited', columns={{
                 '_id': 'VARCHAR',
                 '_source': 'STRUCT(subject VARCHAR, time VARCHAR, {fields})'}})"""
    )
    con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{work / 'dim'}/*.parquet')")
    tall = " UNION ALL ".join(
        f"SELECT token_id, ts, '{n}' AS name FROM r WHERE {f} IS NOT NULL"
        for n, f in _name_fields()
    )
    per_name = dict(
        con.execute(
            f"""WITH r AS (SELECT d.token_id, s.* FROM src s JOIN dim d USING (subject)),
                     tall AS ({tall})
                SELECT name, count(DISTINCT (token_id, ts)) FROM tall GROUP BY name"""
        ).fetchall()
    )
    docs = con.execute("SELECT count(*) FROM src").fetchone()[0]
    quarantine = con.execute(
        "SELECT count(*) FROM src WHERE subject NOT IN (SELECT subject FROM dim)"
    ).fetchone()[0]
    return {
        "docs": docs, "signals": sum(per_name.values()),
        "per_name": per_name, "quarantine": quarantine,
    }


def observed(out: Path, quarantine: Path) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW o AS SELECT * FROM read_parquet('{out}/*/*.parquet', hive_partitioning=true)"
    )
    n, keys = con.execute(
        "SELECT count(*), count(DISTINCT (token_id, timestamp, name)) FROM o"
    ).fetchone()
    per_name = dict(con.execute("SELECT name, count(*) FROM o GROUP BY name").fetchall())
    q = con.execute(f"SELECT count(*) FROM read_parquet('{quarantine}/*.parquet')").fetchone()[0]
    return {"signals": n, "unique_keys": keys, "per_name": per_name, "quarantine": q}


def check(exp: dict, out: Path, quarantine: Path, stdout: str) -> list[str]:
    got = observed(out, quarantine)
    problems = []
    if got["signals"] != exp["signals"]:
        problems.append(f"signals {got['signals']} != {exp['signals']}")
    if got["unique_keys"] != got["signals"]:
        problems.append(f"duplicate keys: {got['signals'] - got['unique_keys']}")
    if got["per_name"] != exp["per_name"]:
        problems.append("per-name counts differ")
    if got["quarantine"] != exp["quarantine"]:
        problems.append(f"quarantine {got['quarantine']} != {exp['quarantine']}")
    if f"synced: {exp['signals']} signal rows" not in stdout:
        problems.append("CLI did not report the expected count")
    return problems


def output_bytes(out: Path) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(str(out / "*" / "*.parquet")))


def measure(seed: int, seconds: float, work: Path) -> dict:
    """Timed: whole CLI processes, one after another, until ``seconds``
    have passed (at least one).  The benchmark process starts no JVM."""
    setups = run_setup(seed, work)
    exp = expected(work)

    walls, cpus, peaks, steals, problems = [], [], [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        attempted += 1
        out, q = work / f"out{attempted}", work / f"quarantine{attempted}"
        cmd = [sys.executable, "-m", "es_ch_sync_spark.job.main", *cli_argv(work, out, q)]
        proc, tree, wall = H.run_tree(cmd, work)
        bad = [f"exit {proc.returncode}: {proc.stderr[-2000:]}"] if proc.returncode else check(
            exp, out, q, proc.stdout
        )
        if bad:
            failed += 1
            problems.extend(bad)
        else:
            walls.append(wall)
            cpus.append(tree.cpu_s)
            peaks.append(tree.peak_mb)
            steals.append(tree.steal_s)
            bytes_out = output_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(q, ignore_errors=True)
    if not walls:
        return {"ok": False, "attempted": attempted, "failed": failed, "problems": problems}
    return {
        "ok": not problems,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "setup_s": H.median(setups["setup_s"]),
            "wall_s": H.median(walls),
        },
        "artifact": {
            "input": {"docs": exp["docs"], "tokens": N_TOKENS, "days": DAYS,
                      "export_files": EXPORT_FILES, "signals": exp["signals"],
                      "quarantine": exp["quarantine"], "output_bytes": bytes_out},
            "samples": {"setup": len(setups["setup_s"]), "cli_runs": len(walls)},
            "setup_s": setups["setup_s"], "setup_session_start_s": setups["session_s"],
            "cli_wall_s": walls, "cli_cpu_s": cpus,
            "cli_peak_rss_mb": peaks, "host_steal_s": steals,
        },
    }


TRACE_ROUNDS = 2


def trace(spark, seed: int, work: Path, tracer: "H.Tracer") -> dict:
    """One section = ``job.main.main(argv)`` in this process, then
    ``TRACE_ROUNDS`` rounds of the read queries over the table it wrote.

    The section runs four times: an untraced warm-up (whose output also
    feeds the read queries' DuckDB checks), then untraced, traced and
    untraced again, so the two untraced runs bracket the traced one for
    the overhead.  Traced, ``main``'s entry points
    are wrapped where ``main`` looks them up and restored afterwards, so
    the trace follows the CLI's own call sequence."""
    import contextlib
    import io

    import es_ch_sync_spark.io.es_datasource as es_ds
    import es_ch_sync_spark.io.sinks as sinks
    import es_ch_sync_spark.job.main as job_main
    import es_ch_sync_spark.job.sync as sync
    import es_ch_sync_spark.session as session

    import read_queries as RQ

    setup(spark, seed, work)
    exp = expected(work)
    problems: list[str] = []
    failed = attempted = 0
    lat: dict[str, list[float]] = {}
    targets = [
        (session, "get_spark", "session.get_spark"),
        (es_ds, "read_es_status", "io.es_datasource.read_es_status"),
        (sync, "plan_sync", "job.sync.plan_sync"),
        (sinks, "write_signals", "io.sinks.write_signals"),
    ]

    def section(tag: str) -> tuple[float, dict]:
        nonlocal failed, attempted
        traced = tag == "traced"

        def maybe(cm):
            return cm if traced else contextlib.nullcontext()

        out, q = work / f"out_{tag}", work / f"quarantine_{tag}"
        buf = io.StringIO()
        rounds = {k: [] for k in RQ.KINDS}
        scans = []
        with maybe(tracer.span("trace")):
            t0 = time.perf_counter()
            with maybe(tracer.wrap(targets)), maybe(tracer.span("job.main")):
                with contextlib.redirect_stdout(buf):
                    rc = job_main.main(cli_argv(work, out, q))
            client = RQ.Client(spark, out, seed)
            for _ in range(TRACE_ROUNDS):
                failed += RQ.run_round(client, rounds, problems, tracer if traced else None)
                attempted += len(RQ.KINDS)
                scans.append(client.params["token_day_scan"])
            wall = time.perf_counter() - t0
        attempted += 1
        bad = [f"{tag}: exit {rc}"] if rc else check(exp, out, q, buf.getvalue())
        failed += bool(bad)
        problems.extend(bad)
        if tag == "warmup":
            checks = [client.check(kind) for kind in RQ.KINDS]
            attempted += len(checks)
            failed += sum(1 for c in checks if c)
            problems.extend(p for c in checks for p in c)
        if traced:
            lat.update(rounds)
        files = glob.glob(str(out / "*" / "*.parquet"))
        sizes = {
            "output_files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "scan_rows": sum(client.scan_rows(*p) for p in scans),
        }
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(q, ignore_errors=True)
        return wall, sizes

    section("warmup")
    before, _ = section("before")
    _, sizes = section("traced")
    after, _ = section("after")

    write = tracer.stages("io.sinks.write_signals")
    metrics = {f"io.sinks.write_signals.{k}": write[k] for k in WRITE_FIELDS if k in write}
    metrics.update({
        "io.sinks.write_signals.s": tracer.total("io.sinks.write_signals"),
        "io.sinks.write_signals.scan_stage.task_s": write["leaf_task_s"],
        "job.sync.plan_sync.s": tracer.total("job.sync.plan_sync"),
        "job.sync.plan_sync.jobs": tracer.stages("job.sync.plan_sync")["jobs"],
        "io.es_datasource.read_es_status.s": tracer.total("io.es_datasource.read_es_status"),
        "io.sinks.write_signals.output_files": sizes["output_files"],
        "io.sinks.bytes_per_signal": sizes["bytes"] / max(1, exp["signals"]),
        "job.main.self_s": tracer.self_times()["job.main"],
        "job.main.input_mb": tracer.stages("job.main")["input_mb"],
    })
    for kind in RQ.KINDS:
        if lat.get(kind):
            metrics[f"{kind}.p50_ms"] = H.median(lat[kind]) * 1000.0
        metrics[f"{kind}.input_mb"] = tracer.stages(kind)["input_mb"] / TRACE_ROUNDS
    scan = tracer.stages("token_day_scan")
    metrics["token_day_scan.input_rows_per_result"] = scan["input_rows"] / max(1, sizes["scan_rows"])
    return {
        "metrics": metrics, "problems": problems, "attempted": attempted,
        "failed": failed, "untraced_s": [before, after],
        "artifact": {"input": {"docs": exp["docs"], "signals": exp["signals"]}},
    }


if __name__ == "__main__":
    print(json.dumps(setup_child(int(sys.argv[1]), Path(sys.argv[2]))))
