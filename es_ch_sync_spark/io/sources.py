"""Sources — the engine's analog of the reference's ES/CH readers.

The reference treats Elasticsearch as a black-box pushdown target
(/root/reference/internal/service/elastic/elastic.go) and ClickHouse as a
SQL endpoint (internal/service/clickhouse/clickhouse.go).  This engine's
canonical storage is partitioned Parquet (the testdata contract); the same
call sites would take an ES DSv2 / ClickHouse JDBC reader unchanged because
everything downstream is plain DataFrames.

JSON reading uses PERMISSIVE mode + a corrupt-record column so malformed
documents are quarantined, never fatal — the reference's per-record error
isolation (sync.go:192-204).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


@lru_cache(maxsize=256)
def _ts_column_kinds(path: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(nanos_cols, ntz_cols) — one parquet footer read, driver-side.

    nanos: stored as TIMESTAMP(NANOS), which Spark 4 rejects outright.
    ntz: stored with isAdjustedToUTC=false, which Spark 4 infers as
    TIMESTAMP_NTZ — a type that forbids epoch math (unix_micros,
    cast-to-long) and event-time watermarks.  Both get normalized to plain
    TIMESTAMP in read_parquet_table.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(path)
        nanos = tuple(
            f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"
        )
        ntz = tuple(
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.tz is None and f.type.unit != "ns"
        )
        return nanos, ntz
    except Exception:  # noqa: BLE001 — fall back to plain read
        return (), ()


# (session id, path) → DataFrame.  A DataFrame is an immutable logical plan,
# so handing the same object to every query is safe — and spark.read.parquet
# re-lists the path and re-reads the footer on EVERY call (~0.3-0.8 s of
# driver time), which across a 28-query suite was the single largest fixed
# cost.  Testdata paths are immutable by contract (TESTDATA.md).
_TABLE_CACHE: dict[tuple[int, str], DataFrame] = {}


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (TESTDATA.md layout: ``{sf_dir}/{name}.parquet``).

    Spark 4 rejects parquet TIMESTAMP(NANOS) outright; with the legacy conf
    it reads them as epoch-nanos longs.  We convert back to TimestampType via
    integer division (``div 1000`` — truncation, matching DuckDB's ns→µs
    cast, and avoiding the double-precision loss of ``/``).  The footer probe
    is one driver-side read per path, cached; the resulting DataFrame is
    memoized per session.
    """
    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark), path)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    ns_cols, ntz_cols = _ts_column_kinds(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp literals in queries parse in the session timezone; pin UTC so
    # results are identical under any host/session default (parquet values
    # are UTC-normalized; the DuckDB oracle is naive-UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # TIMESTAMP_NTZ → TIMESTAMP: with session TZ pinned UTC the cast is
    # wall-clock-preserving, epoch math and watermarks work again, and the
    # DuckDB oracle (naive-UTC) keeps matching.
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def read_status_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Read wide status documents from JSON with quarantine (T3).

    PERMISSIVE + columnNameOfCorruptRecord: schema-violating documents land
    with all fields null and the raw text in CORRUPT_COL, preserving the
    reference's 'log the bad doc id, drop, continue' behavior.  An explicit
    schema (never inference) keeps the scan single-pass and deterministic —
    at 100 TB a schema-inference pre-pass is a second full read.
    """
    if CORRUPT_COL not in [f.name for f in schema.fields]:
        schema = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_device_dim(
    spark: SparkSession,
    path: str,
    subject_col: str = "subject",
    token_col: str = "token_id",
) -> tuple[DataFrame, DataFrame]:
    """Build the device dimension from a device-service dump
    (``subjects.jsonl``: one JSON object per line, ``{"id": "<subject>",
    "token_id": <int|null>}`` — the UserDevice response shape).

    The reference resolves subject→tokenID live over gRPC with a 24 h
    cache including NEGATIVE entries for not-found subjects
    (/root/reference/internal/service/deviceapi/service.go:52-105).  In
    the engine that service is a broadcast dim table
    (operators/dimjoin.py); this loader is the missing adapter that turns
    a service dump into that table:

    - a ``token_id: null`` / absent token is kept as an explicit
      negative-cache row — it left-joins to null and lands in the
      unresolved quarantine, exactly the NotFoundError path
      (service.go:75-78, "store missing tokenID so we don't keep
      querying");
    - malformed lines go to the returned quarantine frame (same T3
      contract as read_status_json), never fatal;
    - duplicate subjects collapse deterministically to max(token_id) —
      non-null wins over a stale negative entry, mirroring
      PrimeTokenIDCache overwriting a cached miss (service.go:109-113).

    Returns ``(device_dim, quarantine)``; device_dim is
    (subject, token_id) and small by construction — one row per device —
    so downstream it broadcasts.  Scale: the dump is splittable JSON
    lines; the dedup aggregate is map-side combined on subject."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("token_id", T.LongType()),
            T.StructField(CORRUPT_COL, T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    bad = F.col(CORRUPT_COL).isNotNull() | F.col("id").isNull()
    # Well-formed lines with a null/absent id have CORRUPT_COL = NULL —
    # reconstruct their content from the parsed columns so the quarantine
    # stays inspectable for both failure shapes.
    quarantine = raw.filter(bad).select(
        F.coalesce(
            F.col(CORRUPT_COL), F.to_json(F.struct("id", "token_id"))
        ).alias("raw")
    )
    dim = (
        raw.filter(~bad)
        .groupBy(F.col("id").alias(subject_col))
        .agg(F.max("token_id").alias(token_col))
    )
    return dim, quarantine


def read_es_hits(
    spark: SparkSession,
    paths: str | list[str],
    source_schema: T.StructType,
) -> DataFrame:
    """Parse an Elasticsearch bulk-export NDJSON (the elasticdump / scroll-
    dump hit format: one line per hit, the document under ``_source``,
    ``_id``/``_index`` metadata alongside) with the JVM JSON scan — the
    file-based stand-in for the reference's live scroll reads
    (/root/reference/internal/service/elastic/elastic.go:46-108) when a
    user migrates an index dump instead of connecting live.

    Returns the raw hit envelope (``_id``, ``_index``, ``_source``,
    CORRUPT_COL), PERMISSIVE: a line that does not parse against the
    explicit schema keeps its text in CORRUPT_COL.  ``paths`` is a file,
    a directory or a list of files; an empty list is an empty frame.
    Explicit schema keeps the scan single-pass; at 100 TB the export is
    just another splittable JSON-lines table.  Split the result with
    split_es_hits; a caller that writes both sides persists it first so
    the export is parsed once."""
    envelope = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("_index", T.StringType()),
            T.StructField("_source", source_schema),
            T.StructField(CORRUPT_COL, T.StringType()),
        ]
    )
    if isinstance(paths, list) and not paths:
        return spark.createDataFrame([], envelope)
    return (
        spark.read.schema(envelope)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(paths)
    )


def split_es_hits(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(docs, quarantine) of a read_es_hits frame: docs has ``_source``
    unwrapped to top-level columns plus ``es_id``/``es_index``; lines that
    did not parse go to quarantine with the raw text (same T3 contract as
    read_status_json).  Columns the caller added to the envelope (the
    CLI's source file) ride along on both sides."""
    bad = F.col(CORRUPT_COL).isNotNull() | F.col("_source").isNull()
    extra = [c for c in raw.columns if c not in ("_id", "_index", "_source", CORRUPT_COL)]
    quarantine = raw.filter(bad).select(F.col(CORRUPT_COL).alias("raw"), *extra)
    docs = raw.filter(~bad).select(
        F.col("_id").alias("es_id"), F.col("_index").alias("es_index"), "_source.*", *extra
    )
    return docs, quarantine


def write_read_csv(
    df: DataFrame, path: str, schema: str, mode: str = "overwrite"
) -> DataFrame:
    """CSV round-trip with the engine's quarantine contract: write with
    header + explicit timestamp format, read back PERMISSIVE with an
    explicit schema (never inferSchema — schema inference is a full
    extra pass at 100 TB and type-unstable across files) and the corrupt
    column retained, so a mangled line quarantines instead of failing the
    job — the same per-record error isolation as the JSON path."""
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )
    full = T.StructType.fromDDL(schema).add(CORRUPT_COL, T.StringType())
    return (
        df.sparkSession.read.schema(full)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def write_read_orc(df: DataFrame, path: str, mode: str = "overwrite") -> DataFrame:
    """ORC round-trip — the columnar alternative the Spark/Hive ecosystem
    ships natively.  ORC scans support the same predicate pushdown and
    column pruning as parquet (PushedFilters on the scan line), so a
    deployment standardized on ORC keeps every pruning property this
    engine's plans rely on."""
    df.write.mode(mode).orc(path)
    return df.sparkSession.read.orc(path)


def write_read_jsonl(
    df: DataFrame, path: str, schema: str, mode: str = "overwrite"
) -> DataFrame:
    """JSON-lines round-trip with the quarantine contract: write with an
    explicit microsecond timestamp format, read back PERMISSIVE with an
    explicit schema (never inference — a full extra pass at 100 TB,
    type-unstable across files) and the corrupt-record column retained —
    the text-interchange counterpart of write_read_csv, and the format
    most crawled/LLM corpora actually arrive in."""
    (
        df.write.mode(mode)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(path)
    )
    full = T.StructType.fromDDL(schema).add(CORRUPT_COL, T.StringType())
    return (
        df.sparkSession.read.schema(full)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_avro_table(spark: SparkSession, path: str) -> DataFrame:
    """Avro source — honestly gated: the spark-avro module is an external
    jar not bundled with the pip distribution, so this raises with the
    exact deploy instruction instead of a cryptic classpath error.  The
    option surface (format name, path) is the real one; production
    enablement is a --packages flag, not a code change."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # pragma: no cover - jar-dependent
        raise NotImplementedError(
            "avro requires the external spark-avro module: submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version> "
            f"(underlying: {type(exc).__name__})"
        ) from exc
