"""``engine_rows``: query-registry rows over generated tables, each built
and then fully materialized with the ``noop`` sink (a ``count()`` would
let Catalyst prune output-only work), as the first queries of a fresh
Spark application — what a batch job running these rows pays.

The rows cover the operator families the sync path never touches: text,
dedup, similarity, multimodal and analytics.  A timed pass runs in a child
process with its own JVM (``python3 perfbench/engine_rows.py <sf_dir>``):
every row once, each after ``spark.catalog.clearCache()`` so a row only
reuses work the program itself keeps, timed per row.  After the pass the
child collects every row and compares it with the row's DuckDB oracle,
untimed.  Passes repeat until ``--seconds`` have passed.  Two generic
jobs run before the pass (``warm_up``), so the first row does not carry
the session's first-job cost.

Warm rounds in one long-lived JVM are not timed: they kept getting faster
for five rounds and more while the JIT caught up, so their medians moved
by a fifth between runs; the first pass of a fresh JVM repeats within
about a tenth (README.md)."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import gen
import harness as H

SETUP_REPS = 9
ROWS = [
    "dedup_exact",
    "kneser_ney_bigram",
    "embedding_near_dup",
    "multimodal_features",
    "multimodal_gif_stats",
    "mann_kendall_trend",
    "text_analysis",
]


def setup(seed: int, work: Path) -> dict[str, int]:
    """The registry's tables, generated and written with pyarrow: the
    benchmark's own work, no package code."""
    return gen.write_sf_tables(seed, str(work / "sf"))


def registry():
    from es_ch_sync_spark import queries

    return queries.spark_queries(), queries.oracle_queries()


def check_row(spark, con, name: str, fn, oracle: str | None, sf: str) -> list[str]:
    df = fn(spark, sf)
    got = [tuple(r) for r in df.collect()]
    if oracle is None:
        return []
    res = con.execute(oracle)
    want = res.fetchall()
    cols = [d[0] for d in res.description]
    if sorted(df.columns) != sorted(cols):
        return [f"{name}: columns {sorted(df.columns)} != {sorted(cols)}"]
    if H.canon_rows(df.columns, got) != H.canon_rows(cols, want):
        return [f"{name}: {len(got)} rows differ from the oracle's {len(want)}"]
    return []


def oracle_db(sf: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in gen.SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def run_row(spark, name: str, fn, sf: str, tracer=None) -> float:
    """Seconds to build and fully materialize one row; traced, the row
    runs under span ``name`` and its construction under ``name.construct``."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    if tracer is None:
        fn(spark, sf).write.format("noop").mode("overwrite").save()
    else:
        with tracer.span(name):
            with tracer.span(f"{name}.construct"):
                df = fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def warm_up(spark, sf: str) -> None:
    """Two generic jobs (a range aggregate and a parquet scan aggregate),
    so the first timed row does not carry the session's first-job cost.
    They go through no package code, so no program cache is filled."""
    from pyspark.sql import functions as F

    spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count() \
        .write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf}/events.parquet").groupBy("event_type").count() \
        .write.format("noop").mode("overwrite").save()


def run_pass(spark, fns, sf: str, tracer=None) -> tuple[dict[str, float], list[str]]:
    """Every row once; returns (seconds per row that ran, problems)."""
    times: dict[str, float] = {}
    problems: list[str] = []
    for name in ROWS:
        try:
            times[name] = run_row(spark, name, fns[name], sf, tracer)
        except Exception as e:  # noqa: BLE001 — a failing row is counted, never skipped silently
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:500]}")
    return times, problems


def check_pass(spark, fns, sf: str) -> list[str]:
    """Collect every row and compare it with its oracle."""
    _, oracles = registry()
    con = oracle_db(sf)
    problems: list[str] = []
    for name in ROWS:
        try:
            problems += check_row(spark, con, name, fns[name], oracles.get(name), sf)
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:500]}")
    return problems


def child(sf: str) -> dict:
    """One timed pass, then the checks, in this (fresh) process."""
    session = H.LazySession("perfbench-engine_rows")
    try:
        spark = session()
        fns, _ = registry()
        warm_up(spark, sf)
        before = H.tree_cpu(os.getpid())
        times, problems = run_pass(spark, fns, sf)
        after = H.tree_cpu(os.getpid())
        problems += check_pass(spark, fns, sf)
    finally:
        session.stop()
    # each row runs twice: timed, then collected for the check; every
    # problem string is one failed operation
    return {
        "times": times, "problems": problems, "session_s": session.start_s,
        "cpu_s": sum(after.values()) - sum(v for p, v in before.items() if p in after),
        "attempted": 2 * len(ROWS), "failed": len(problems),
    }


def run_child(work: Path) -> tuple[dict, "H.TreeSampler"]:
    """A pass in a child process; returns its result and what was sampled
    of its process tree (peak RSS, host steal)."""
    cmd = [sys.executable, str(Path(__file__).resolve()), str(work / "sf")]
    proc, tree, _ = H.run_tree(cmd, work)
    if proc.returncode:
        problem = f"pass exited {proc.returncode}: {proc.stderr[-2000:]}"
        return {"times": {}, "problems": [problem], "attempted": 2 * len(ROWS),
                "failed": 2 * len(ROWS)}, tree
    return json.loads(proc.stdout.strip().splitlines()[-1]), tree


def measure(seed: int, seconds: float, work: Path) -> dict:
    """Timed: child passes until ``seconds`` have passed (one in practice).
    The benchmark process itself starts no JVM."""
    setups = []

    def set_up() -> dict[str, int]:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            sizes = setup(seed, work)
            setups.append(time.perf_counter() - t0)
        return sizes

    sizes = set_up()

    times: dict[str, list[float]] = {n: [] for n in ROWS}
    passes, cpus, peaks, steals, sessions, problems = [], [], [], [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        got, tree = run_child(work)
        for name, t in got["times"].items():
            times[name].append(t)
        attempted += got["attempted"]
        failed += got["failed"]
        problems += got["problems"]
        passes.append(sum(got["times"].values()))
        cpus.append(got.get("cpu_s", 0.0))
        peaks.append(tree.peak_mb)
        steals.append(tree.steal_s)
        sessions.append(got.get("session_s", 0.0))
    # a setup takes ~0.15 s and the host's speed drifts over seconds, so
    # setups before and after the passes give a median over the whole run
    set_up()
    per_row = {n: H.median(v) for n, v in times.items() if v}
    if len(per_row) < len(ROWS):
        return {"ok": False, "attempted": attempted, "failed": failed, "problems": problems}
    wall = sum(per_row.values())
    return {
        "ok": not problems,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "setup_s": H.median(setups),
            "wall_s": wall,
        },
        "artifact": {
            "input": {"rows": sizes},
            "samples": {"setup": len(setups), "passes": len(passes), "rows": len(per_row)},
            "setup_s": setups,
            "pass_s": passes,
            "pass_cpu_s": cpus,
            "pass_peak_rss_mb": peaks,
            "host_steal_s": steals,
            "pass_session_start_s": sessions,
            "row_s": per_row,
        },
    }


def trace(spark, seed: int, work: Path, tracer: "H.Tracer") -> dict:
    """After the warm-up jobs and an untimed first pass (the cold one,
    much slower than the rest), three passes in this process's session:
    untraced, traced with every row under its own span, and untraced
    again, so the two untraced passes bracket the traced one for the
    overhead.  The checks follow."""
    setup(seed, work)
    sf = str(work / "sf")
    fns, _ = registry()
    warm_up(spark, sf)
    _, cold = run_pass(spark, fns, sf)
    before, p1 = run_pass(spark, fns, sf)
    with tracer.span("trace"):
        traced, p2 = run_pass(spark, fns, sf, tracer)
    after, p3 = run_pass(spark, fns, sf)
    problems = cold + p1 + p2 + p3 + check_pass(spark, fns, sf)

    metrics: dict[str, float] = {}
    shuffle = spill = 0.0
    for name in traced:
        construct = tracer.stages(f"{name}.construct")
        execute = tracer.stages(name)
        metrics[f"{name}.s"] = tracer.total(name)
        metrics[f"{name}.construct_s"] = tracer.total(f"{name}.construct")
        metrics[f"{name}.construct_jobs"] = construct["jobs"]
        shuffle += construct["shuffle_write_mb"] + execute["shuffle_write_mb"]
        spill += construct["spill_mb"] + execute["spill_mb"]
    metrics["engine_rows.shuffle_write_mb"] = shuffle
    metrics["engine_rows.spill_mb"] = spill
    return {
        "metrics": metrics, "problems": problems,
        "attempted": 5 * len(ROWS), "failed": len(problems),
        "untraced_s": [sum(before.values()), sum(after.values())],
    }


if __name__ == "__main__":
    print(json.dumps(child(sys.argv[1])))
