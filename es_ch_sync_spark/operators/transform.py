"""T1/T2/T3 — schema-driven wide→tall unpivot with unit conversion and
malformed-record quarantine.

Reference behavior: each wide status document explodes into ~18 tall
``(token_id, timestamp, name, value)`` signal rows, dispatching on payload
version, applying per-signal unit conversions, and dropping (never failing
on) malformed documents — /root/reference/internal/sync/sync.go:187-208.

Spark-first design: the whole transform is ONE generated ``stack``
projection (a narrow map — no shuffle, no UDF, fully inside whole-stage
codegen).  At 100 TB this matters: the unpivot multiplies row count by
``len(catalog)``, so it must stay a streaming map fused with the scan and
the downstream filter; Catalyst fuses exactly that when expressed as
``select(stack(...))`` + ``filter``.

Column pruning: callers should feed only ``id_cols + catalog.source_fields()``
(the analog of the reference's ES ``_source`` includes-list, elastic.go:67-77);
because the stack projection references only those columns, Catalyst prunes
the Parquet scan to them automatically even if the caller doesn't pre-select.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from es_ch_sync_spark.catalog import SignalCatalog

# Tall signal schema (SURVEY.md §1.2; model-garage vss.Signal [dep], insert
# site /root/reference/internal/service/clickhouse/clickhouse.go:113-130).
SIGNAL_COLUMNS = ["token_id", "timestamp", "name", "source", "value_number", "value_string"]


def unpivot_signals(
    df: DataFrame,
    catalog: SignalCatalog,
    token_col: str = "token_id",
    ts_col: str = "timestamp",
    source_col: str = "source",
) -> DataFrame:
    """Wide rows → tall signal rows, driven entirely by the catalog.

    Emits one row per (input row, catalog entry) where the source field is
    non-null — mirroring the reference's per-field conversion loop
    (sync.go:187-208) and the ES existence-disjunction (a document with none
    of the wanted fields yields nothing, elastic.go:74-78).
    """
    if len(catalog) == 0:
        raise ValueError("empty signal catalog")

    # explode(array(named_struct...)) — same fused-map plan shape as
    # stack(): Catalyst plans this as Generate(explode) over a literal
    # array — narrow, codegen'd, no shuffle.  The whole array is rendered
    # as SQL text and parsed in ONE expr() call: a wide catalog built
    # Column-by-Column costs a py4j round-trip per operator (~1.5 ms each),
    # which would dominate plan construction (catalog.CONVERSIONS_SQL).
    per_signal = ", ".join(
        f"named_struct('name', '{d.name}', "
        f"'value_number', {d.number_sql()}, "
        f"'value_string', {d.string_sql()})"
        for d in catalog.defs
    )
    exploded = df.select(
        F.col(token_col).cast("long").alias("token_id"),
        F.col(ts_col).alias("timestamp"),
        F.col(source_col).cast("string").alias("source"),
        F.expr(f"explode(array({per_signal}))").alias("sig"),
    )

    return exploded.select(
        "token_id",
        "timestamp",
        F.col("sig.name").alias("name"),
        "source",
        F.col("sig.value_number").alias("value_number"),
        F.col("sig.value_string").alias("value_string"),
    ).filter(F.col("value_number").isNotNull() | F.col("value_string").isNotNull())


def castable_subjects(subject_col: str = "subject") -> Column:
    """True where the subject is null or casts to a long token id: without
    a dim the subject is the token_id, and under ANSI one ``0xdev001117``
    fails the whole cast.  plan_sync quarantines the rest; the stream drops it."""
    subject = F.col(subject_col)
    return subject.isNull() | subject.try_cast("long").isNotNull()


def split_quarantine(
    df: DataFrame,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """T3 — malformed-record quarantine as a pair of filters.

    The reference logs-and-drops rows whose conversion fails
    (sync.go:192-204, exercised by the badData fixture,
    sync_test.go:44-51,283-288); the job never fails.  With Spark's
    PERMISSIVE JSON/CSV mode the corrupt source text lands in
    ``corrupt_col``; for parquet fixtures, callers mark bad rows upstream
    (FIXTURES.md `is_malformed`).  Returns (clean, quarantined).

    Takes no cache: the caller that owns the source's lifetime persists
    (or checkpoints) the parsed frame before splitting and releases it
    after its last action, as job/main.py does.  That is what lets both
    outputs share one parse, and over raw JSON it is required: Spark
    rejects a plan that references ONLY the corrupt column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), which counting the quarantine
    side does.
    """
    if corrupt_col in df.columns:
        bad = F.col(corrupt_col).isNotNull()
    elif "is_malformed" in df.columns:
        bad = F.col("is_malformed") == True  # noqa: E712
    else:
        return df, df.limit(0)
    return df.filter(~bad), df.filter(bad)


def normalize_pseudo_arrays(
    df: DataFrame,
    base: str,
    n: int,
    out_col: str | None = None,
    keep_slots: bool = False,
) -> DataFrame:
    """Fold indexed pseudo-array columns ``{base}_0 .. {base}_{n-1}`` into
    one ``array<struct<slot:int, ...fields>>`` column (SURVEY §1.1 risk 4).

    The source mapping stores arrays as numbered fields —
    ``cell.details.cell_[0..3].{rssi, rsrq, physical_cell_id, ...}``
    (/root/reference/internal/sync/test/status_mapping.json:38-110) — a
    dynamic-mapping artifact the reference leaves flat and never converts
    to signals.  Relationally the right shape is a single ArrayType column:
    absent slots (documents report 0-4 cells) compact away instead of
    rippling nullable columns through every downstream schema, and
    per-element queries become ``explode``/higher-order functions instead
    of N-way UNIONs.

    Pure column expression (array + filter — no shuffle, fused with the
    scan); each element keeps its original index in ``slot`` so ordinal
    semantics survive the compaction.  ``keep_slots`` retains the flat
    source columns alongside (default drops them)."""
    out_col = out_col or base
    slot_cols = [f"{base}_{i}" for i in range(n)]
    missing = [c for c in slot_cols if c not in df.columns]
    if missing:
        raise ValueError(f"pseudo-array columns absent: {missing}")
    entries = [
        F.when(
            F.col(c).isNotNull(),
            F.struct(F.lit(i).alias("slot"), F.col(c).alias("value")),
        )
        for i, c in enumerate(slot_cols)
    ]
    arr = F.filter(F.array(*entries), lambda s: s.isNotNull())
    out = df.withColumn(out_col, arr)
    if not keep_slots and out_col not in slot_cols:
        out = out.drop(*slot_cols)
    elif not keep_slots:
        out = out.drop(*[c for c in slot_cols if c != out_col])
    return out
