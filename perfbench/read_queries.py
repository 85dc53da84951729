"""Read-side maintenance queries over a signal table the sync wrote.

A client runs a fixed round-robin of five query kinds, each fully
materialized with the ``noop`` sink and each reading the table afresh
through ``io.sinks.read_signals``; ``Client.check`` collects a kind and
compares it with DuckDB over the same parquet files."""

from __future__ import annotations

import time
from pathlib import Path

import harness as H

KINDS = ("resume_points", "oldest_signal_ts", "distinct_tokens", "build_daily_rollup", "token_day_scan")
OLDEST_NAMES = ["speed", "odometer"]


class Client:
    """Builds each kind's DataFrame; the parameters of the two point
    queries follow a sequence drawn from the seed."""

    def __init__(self, spark, table: Path, seed: int) -> None:
        import duckdb
        import numpy as np

        self.spark = spark
        self.table = str(table)
        self.rng = np.random.default_rng(seed + 1)
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{self.table}/*/*.parquet', hive_partitioning=true)"
        )
        self.pairs = self.con.execute(
            "SELECT DISTINCT token_id, event_date FROM t ORDER BY 1, 2"
        ).fetchall()
        self.params: dict[str, tuple] = {}

    def draw(self) -> tuple[int, object]:
        """A (token, day) that has signals, so point queries never come back empty."""
        token, day = self.pairs[int(self.rng.integers(0, len(self.pairs)))]
        return int(token), day

    def build(self, kind: str):
        from pyspark.sql import functions as F

        from es_ch_sync_spark.io.maintenance import build_daily_rollup
        from es_ch_sync_spark.io.sinks import read_signals
        from es_ch_sync_spark.operators import maintenance as M

        sig = read_signals(self.spark, self.table)
        if kind == "resume_points":
            return M.resume_points(sig)
        if kind == "oldest_signal_ts":
            token = self.draw()[0]
            self.params[kind] = (token,)
            return M.oldest_signal_ts(sig, token, OLDEST_NAMES)
        if kind == "distinct_tokens":
            return M.distinct_tokens(sig)
        if kind == "build_daily_rollup":
            return build_daily_rollup(sig)
        token, day = self.draw()
        self.params[kind] = (token, day)
        return sig.filter((F.col("event_date") == F.lit(day)) & (F.col("token_id") == token))

    def oracle(self, kind: str) -> str:
        if kind == "resume_points":
            return "SELECT token_id, min(timestamp) AS min_ts, max(timestamp) AS max_ts FROM t GROUP BY 1"
        if kind == "oldest_signal_ts":
            names = ", ".join(f"'{n}'" for n in OLDEST_NAMES)
            return f"SELECT min(timestamp) AS timestamp FROM t WHERE token_id = {self.params[kind][0]} AND name IN ({names})"
        if kind == "distinct_tokens":
            return "SELECT DISTINCT token_id FROM t"
        if kind == "build_daily_rollup":
            return """SELECT token_id, CAST(timestamp AS DATE) AS day, name, count(*) AS n,
                             min(value_number) AS v_min, max(value_number) AS v_max,
                             CAST(sum(CAST(value_number AS DECIMAL(18, 4))) AS DOUBLE) AS v_sum
                      FROM t GROUP BY 1, 2, 3"""
        token, day = self.params[kind]
        return f"SELECT * FROM t WHERE event_date = DATE '{day}' AND token_id = {token}"

    def scan_rows(self, token: int, day) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM t WHERE event_date = DATE '{day}' AND token_id = {token}"
        ).fetchone()[0]

    def check(self, kind: str) -> list[str]:
        df = self.build(kind)
        got = [tuple(r) for r in df.collect()]
        res = self.con.execute(self.oracle(kind))
        want = res.fetchall()
        cols = [d[0] for d in res.description]
        if sorted(df.columns) != sorted(cols):
            return [f"{kind}: columns {sorted(df.columns)} != {sorted(cols)}"]
        if H.canon_rows(df.columns, got) != H.canon_rows(cols, want):
            return [f"{kind}: {len(got)} rows differ from DuckDB's {len(want)}"]
        return []


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_round(client: Client, lat: dict[str, list[float]], problems: list[str], tracer=None) -> int:
    """One pass over the kinds; returns the number that failed."""
    failed = 0
    for kind in KINDS:
        t0 = time.perf_counter()
        try:
            if tracer is None:
                noop(client.build(kind))
            else:
                with tracer.span(kind):
                    noop(client.build(kind))
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            failed += 1
            problems.append(f"{kind}: {type(e).__name__}: {str(e)[:500]}")
            continue
        lat[kind].append(time.perf_counter() - t0)
    return failed
