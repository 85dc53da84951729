"""The sync job — the reference's Synchronizer.Start as ONE Spark plan.

Reference control flow (/root/reference/internal/sync/sync.go:40-160):
errgroup fan-out per token (bounded 25/100), per-token resume-point query,
per-token keyset-paginated ES scan loop, per-batch convert + insert.  All
data moves through the single Go process.

Spark translation: the fan-out IS partition parallelism, pagination IS the
scan's split planning, the N resume queries ARE one groupBy-min, and the
driver only plans — executors move data.  The entire job is:

    tokens     = config list | distinct(dest)            (A2)
    resume     = dest.groupBy(token).min(ts)             (P4, one job)
    src        = read(events).filter(time range ∧ token-set ∧ exists-any) (S1-S7)
    signals    = unpivot(src, catalog)                   (T1-T3)
                 ⋈ broadcast(device_dim)                 (J1)
    write      = anti-join existing + dedup + append     (K1-K2, the sink)

plan_sync builds everything up to the write and stays lazy: it does not
dedup, and the only cache it takes is split_quarantine's on a frame that
still carries the corrupt-record column.  Duplicates are the sink's to absorb, as in the
reference, where the ClickHouse ReplacingMergeTree collapses them
(clickhouse.go:113-130, sync.go:128-137): io/sinks.py:write_signals and
the txlog branch of job/main.py each run dedup_signals exactly once.  The
CLI (job/main.py) owns the one persisted parse of a text source that the
signals and the quarantines share.

Config surface mirrors internal/config/settings.go:4-22 (START_TIME,
STOP_TIME, TOKEN_IDS, SIGNALS; BATCH_SIZE/PARALLEL become Spark split
sizing / task scheduling and need no knobs here).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from es_ch_sync_spark.catalog import SignalCatalog
from es_ch_sync_spark.operators.dimjoin import resolve_tokens
from es_ch_sync_spark.operators.transform import split_quarantine, unpivot_signals


@dataclass
class SyncOptions:
    """Mirror of sync.Options (/root/reference/internal/sync/options.go:5-13).

    Defaults reproduce Start()'s: stop=now, start=stop−1 month
    (sync.go:54-60).  token_ids/signals accept messy comma lists — parsing
    is whitespace- and error-tolerant (sync.go:223-231, test at
    sync_test.go:79).
    """

    start_time: datetime | None = None
    stop_time: datetime | None = None
    token_ids: list[int] = field(default_factory=list)
    signals: list[str] = field(default_factory=list)

    def resolved_window(self) -> tuple[datetime, datetime]:
        # one CALENDAR month (28-31 days), matching the reference's
        # StopTime.AddDate(0, -1, 0) (sync.go:59) — not a fixed 30 days
        from dateutil.relativedelta import relativedelta

        stop = self.stop_time or datetime.now(timezone.utc)
        start = self.start_time or (stop - relativedelta(months=1))
        return start, stop

    @staticmethod
    def parse_token_ids(raw: str) -> list[int]:
        out: list[int] = []
        for part in raw.split(","):
            part = part.strip()
            if not part:
                continue
            try:
                out.append(int(part))
            except ValueError:
                continue  # skip unparseable ids, keep going (sync.go:226-230)
        return out


def plan_sync(
    status_df: DataFrame,
    catalog: SignalCatalog,
    device_dim: DataFrame | None,
    opts: SyncOptions,
    existing_signals: DataFrame | None = None,
    subject_col: str = "subject",
    ts_col: str = "time",
    source_col: str = "source",
    catalog_v2: SignalCatalog | None = None,
    version_col: str = "dataschema",
) -> tuple[DataFrame, DataFrame]:
    """Build the full sync plan; returns (signals, quarantine).

    ``signals`` still holds the duplicates the source carries (re-emitted
    documents, overlapping windows): the sink dedups (write_signals /
    dedup_signals).  Lazily declared — nothing executes until the caller
    writes/collects, so Catalyst sees the whole pipeline and can push the
    time/token filters into the source scan beneath the unpivot.

    Payload-version dispatch (T1, sync.go:190-204): documents with a
    non-null ``version_col`` are v2 payloads converted through
    ``catalog_v2``; null-version documents take the v1 path — the
    reference's SignalsFromPayload → VersionError → SignalsFromV1Payload
    fallback, expressed as two filtered unpivots unioned (both stay fused
    narrow maps over the same scan).
    """
    start, stop = opts.resolved_window()
    cat = catalog.filtered(opts.signals)
    cat_v2 = catalog_v2.filtered(opts.signals) if catalog_v2 is not None else None

    clean, quarantined = split_quarantine(status_df)

    # S3: start-inclusive, stop-exclusive (elastic.go:47-48,54)
    scan = clean.filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(stop)))
    # S7: documents with none of the wanted fields produce no signals; the
    # unpivot's not-null filter enforces this, Catalyst infers the
    # disjunction and pushes it to the scan.

    if device_dim is not None:
        resolved, unresolved = resolve_tokens(scan, device_dim, subject_col=subject_col)
        quarantined = quarantined.unionByName(unresolved, allowMissingColumns=True)
        wide = resolved
        token_col = "token_id"
    else:
        wide = scan
        token_col = subject_col

    if opts.token_ids:  # C1: config-driven token predicate
        wide = wide.filter(F.col(token_col).isin(opts.token_ids))

    if cat_v2 is not None and version_col in wide.columns:
        v1_rows = wide.filter(F.col(version_col).isNull())
        v2_rows = wide.filter(F.col(version_col).isNotNull())
        signals = unpivot_signals(
            v1_rows, cat, token_col=token_col, ts_col=ts_col, source_col=source_col
        ).unionByName(
            unpivot_signals(
                v2_rows, cat_v2, token_col=token_col, ts_col=ts_col, source_col=source_col
            )
        )
    else:
        signals = unpivot_signals(wide, cat, token_col=token_col, ts_col=ts_col, source_col=source_col)

    if existing_signals is not None:
        # P4 analog at plan level: don't re-emit already-synced keys.
        signals = signals.join(
            existing_signals.select("token_id", "timestamp", "name"),
            on=["token_id", "timestamp", "name"],
            how="left_anti",
        )
    return signals, quarantined
