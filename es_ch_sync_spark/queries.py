"""Query registry — every operator from SURVEY.md §2 as a (Spark, oracle-SQL)
pair over the driver testdata tables (TESTDATA.md).

Each entry is ``name -> (spark_fn, oracle_sql | None)`` where ``spark_fn``
takes ``(spark, sf_dir)`` and returns a DataFrame, and ``oracle_sql`` is the
ANSI-SQL equivalent DuckDB runs on the same parquet (views: region nation
customer supplier part orders lineitem events documents embeddings).
Column names/aliases are identical on both sides — the driver's compare
sorts columns by name before hashing.

Conventions for cross-engine value-hash stability:
- every computed column is aliased identically on both sides;
- double aggregations that sum many values are ``round(x, 4)`` on both
  sides (association order differs between engines at the ULP level);
- top-k queries carry an explicit unique tie-break column.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from es_ch_sync_spark.catalog import EVENTS_CATALOG
from es_ch_sync_spark.io.sources import read_parquet_table
from es_ch_sync_spark.operators.maintenance import distinct_tokens, oldest_signal_ts, resume_points
from es_ch_sync_spark.operators.scan import scan_records
from es_ch_sync_spark.operators.transform import unpivot_signals

QueryFn = Callable[[SparkSession, str], DataFrame]

# registry: name -> (spark_fn, oracle_sql or None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        # Duplicate names are a LOUD error (r12 lesson: a second
        # `funnel_conversion` registration was silently overwritten by
        # whichever module imported last, so the correctness gate was
        # testing a different query than the author thought).  Module
        # import caching makes every legitimate registration run once.
        if name in _REGISTRY:
            raise ValueError(
                f"register({name!r}): name already registered — query names "
                "are globally unique across all queries_*.py modules; pick "
                "a distinct name"
            )
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


_ROOT = Path(__file__).resolve().parent.parent


def _driver_order(names, correctness_files) -> list[str]:
    """Registry order for the correctness gate, which samples the first
    50 entries of ``spark_queries()``: names whose latest row in
    ``correctness_files`` (read in order, a later file overriding an
    earlier one) is not ``rows_match`` and ``hash_match`` first, then
    names no file holds, then the rest, stable within each group.  A pure
    reordering: the name -> query mapping is unchanged."""
    green: dict[str, bool] = {}
    for path in correctness_files:
        for name, row in json.loads(Path(path).read_text()).items():
            green[name] = bool(row.get("rows_match") and row.get("hash_match"))
    red = [n for n in names if green.get(n) is False]
    fresh = [n for n in names if n not in green]
    seen = [n for n in names if green.get(n)]
    return red + fresh + seen


def _ordered() -> list[str]:
    _load_extra_registries()
    return _driver_order(_REGISTRY, sorted(_ROOT.glob("CORRECTNESS_r*.json")))


def spark_queries() -> dict[str, QueryFn]:
    return {k: _REGISTRY[k][0] for k in _ordered()}


def _load_extra_registries() -> None:
    """Import side-effect modules that call register() (idempotent)."""
    import es_ch_sync_spark.queries_advanced  # noqa: F401
    import es_ch_sync_spark.queries_curation  # noqa: F401
    import es_ch_sync_spark.queries_pipeline  # noqa: F401
    import es_ch_sync_spark.queries_relational  # noqa: F401
    import es_ch_sync_spark.queries_sql  # noqa: F401
    import es_ch_sync_spark.queries_web  # noqa: F401


def oracle_queries() -> dict[str, str]:
    return {k: _REGISTRY[k][1] for k in _ordered() if _REGISTRY[k][1] is not None}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Reference surface: S1-S7 scans (elastic.go:46-108)
# ---------------------------------------------------------------------------

@register(
    "scan_filter",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE user_id = 7
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def q_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3 — subject equality + start-inclusive/stop-exclusive time range."""
    df = scan_records(
        _events(spark, sf_dir),
        subject=7,
        start="2024-01-08 00:00:00",
        stop="2024-01-15 00:00:00",
        subject_col="user_id",
        ts_col="ts",
    )
    return df.select("event_id", "ts", "user_id", "event_type", "value")


@register(
    "topk_scan",
    """
    SELECT event_id, ts, user_id, event_type
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 1000
    """,
)
def q_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5 — top-k newest (ES sort desc + size). Plans TakeOrderedAndProject:
    per-partition top-k + k-row driver merge, no global sort."""
    df = scan_records(
        _events(spark, sf_dir),
        subject_col="user_id",
        ts_col="ts",
        limit=1000,
        tiebreak_col="event_id",
    )
    return df.select("event_id", "ts", "user_id", "event_type")


@register(
    "project_prune",
    "SELECT event_id, ts, value FROM events",
)
def q_project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — projection pushdown; ReadSchema must show only 3 columns."""
    return _events(spark, sf_dir).select("event_id", "ts", "value")


@register(
    "exists_any",
    """
    SELECT event_id, ts, user_id
    FROM events
    WHERE value IS NOT NULL OR props IS NOT NULL
    """,
)
def q_exists_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — existence disjunction (ES bool.should exists, min_should_match=1)."""
    df = _events(spark, sf_dir)
    return df.filter(F.col("value").isNotNull() | F.col("props").isNotNull()).select(
        "event_id", "ts", "user_id"
    )


# ---------------------------------------------------------------------------
# S1-S3 through the es_status Python DataSource connector (elastic.go:46-108:
# the reference's ES pushdown boundary, reproduced with pushFilters — the
# subject/type/time predicates below are applied INSIDE the source)
# ---------------------------------------------------------------------------


def _es_export_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic ES-hit-shaped NDJSON export of the events table, built
    once per sf into a tmp dir (the file-based stand-in for a live index;
    the export itself is a faithful full dump, so any query through the
    connector must equal the same SQL on the parquet table)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"es_ch_sync_spark_export_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            _events(spark, sf_dir)
            .select(
                F.col("event_id").cast("string").alias("_id"),
                F.lit("events").alias("_index"),
                F.struct(
                    F.col("user_id").cast("string").alias("subject"),
                    F.col("ts"),
                    F.col("event_type"),
                    F.col("value"),
                ).alias("_source"),
            )
            .write.mode("overwrite")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            .json(out)
        )
    return out


@register(
    "es_status_scan",
    """
    SELECT CAST(event_id AS VARCHAR) AS es_id,
           CAST(user_id AS VARCHAR) AS subject,
           ts, event_type, value
    FROM events
    WHERE CAST(user_id AS VARCHAR) IN ('7', '11')
      AND event_type IN ('purchase', 'view')
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    """,
)
def q_es_status_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S3 via the ``es_status`` Python DataSource (io/es_datasource.py):
    the NDJSON export is read through ``format("es_status")`` with a narrow
    declared schema (projection pushdown — undeclared _source fields are
    never parsed) and the subject-equality + type-IN + time-range predicates
    land in ``pushFilters`` (filter pushdown — applied Arrow-side inside the
    source, the reference's elastic.go:46-108 boundary)."""
    from datetime import datetime, timezone

    from es_ch_sync_spark.io.es_datasource import read_es_status

    path = _es_export_dir(spark, sf_dir)
    df = read_es_status(
        spark, path, "es_id string, subject string, ts timestamp, event_type string, value double"
    )
    return df.filter(
        F.col("subject").isin("7", "11")
        & F.col("event_type").isin("purchase", "view")
        & (F.col("ts") >= F.lit(datetime(2024, 1, 8, tzinfo=timezone.utc)))
        & (F.col("ts") < F.lit(datetime(2024, 2, 1, tzinfo=timezone.utc)))
    ).select("es_id", "subject", "ts", "event_type", "value")


@register(
    "es_dsl_scan",
    """
    SELECT CAST(event_id AS VARCHAR) AS es_id,
           CAST(user_id AS VARCHAR) AS subject,
           ts, event_type, value
    FROM events
    WHERE CAST(user_id AS VARCHAR) = '7'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
      AND value IS NOT NULL
    ORDER BY ts DESC, es_id ASC
    LIMIT 100
    """,
)
def q_es_dsl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's GetRecordsSince REQUEST, replayed verbatim as a
    DSL document (elastic.go:46-80: bool.filter = [match(subject),
    range(time, gte/lt as stringified UnixMilli)], bool.should =
    [exists(field)] with minimum_should_match=1, _source.includes
    projection, sort desc, size) and translated into one declarative
    Spark plan by operators/es_dsl.py.  Every DSL clause lowers to an
    ordinary Catalyst construct, so the match/range/exists predicates
    push into the es_status source (asserted: no post-scan Filter node)
    and sort+size lower to TakeOrderedAndProject.  The only deliberate
    addition over the reference's request is the es_id sort tie-break,
    which both engines need for a deterministic top-100."""
    from datetime import datetime, timezone

    from es_ch_sync_spark.io.es_datasource import read_es_status
    from es_ch_sync_spark.operators.es_dsl import apply_es_dsl

    def ms(*a) -> str:  # the reference sends strconv.Itoa(UnixMilli)
        return str(int(datetime(*a, tzinfo=timezone.utc).timestamp() * 1000))

    request = {
        "query": {
            "bool": {
                "filter": [
                    {"match": {"subject": {"query": "7"}}},
                    {"range": {"ts": {"gte": ms(2024, 1, 8), "lt": ms(2024, 1, 20)}}},
                ],
                "should": [{"exists": {"field": "value"}}],
                "minimum_should_match": 1,
            }
        },
        "_source": {"includes": ["es_id", "subject", "ts", "event_type", "value"]},
        "sort": [{"ts": {"order": "desc"}}, {"es_id": {"order": "asc"}}],
        "size": 100,
    }
    path = _es_export_dir(spark, sf_dir)
    df = read_es_status(
        spark, path,
        "es_id string, subject string, ts timestamp, event_type string, value double",
    )
    out = apply_es_dsl(df, request)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Filter (" not in plan, plan  # every clause pushed into the source
    return out


@register(
    "es_cell_array_scan",
    """
    WITH base AS (
      SELECT event_id, value FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    ), slots AS (
      SELECT event_id,
        list_filter([
          CASE WHEN (event_id + 0) % 2 = 0
               THEN struct_pack(slot := 0, cell_value := value * 1) END,
          CASE WHEN (event_id + 1) % 3 = 0
               THEN struct_pack(slot := 1, cell_value := value * 2) END,
          CASE WHEN (event_id + 2) % 4 = 0
               THEN struct_pack(slot := 2, cell_value := value * 3) END,
          CASE WHEN (event_id + 3) % 5 = 0
               THEN struct_pack(slot := 3, cell_value := value * 4) END
        ], x -> x IS NOT NULL) AS cell
      FROM base
    ), exploded AS (
      SELECT event_id, UNNEST(cell, recursive := true) FROM slots
    )
    SELECT event_id, slot, cell_value FROM exploded
    """,
)
def q_es_cell_array_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cell_[0..3] pseudo-array signals end-to-end (SURVEY §1.1 risk 4).

    The source mapping stores per-cell radio stats as numbered flat fields
    ``cell.details.cell_[0..3].*`` (/root/reference/internal/sync/test/
    status_mapping.json:38-110) that the reference never folds back into an
    array.  This query replays that shape: a deterministic fixture widens
    events into ``cell_0..cell_3`` columns (slot i present iff
    ``(event_id+i) % (i+2) = 0``, value ``value*(i+1)`` — same formula in
    the DuckDB oracle), ``normalize_pseudo_arrays`` compacts them into one
    ``array<struct<slot,value>>`` column, and ``explode`` lands the
    per-element rows the oracle reproduces with UNNEST.

    Scale: the widen + compact + explode chain is pure column expressions
    fused into the scan (one Generate over the projected scan, no shuffle);
    only ``event_id``/``value``/``event_type`` are read (ReadSchema-pruned)."""
    from es_ch_sync_spark.operators.transform import normalize_pseudo_arrays

    df = _events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "view") & F.col("value").isNotNull()
    )
    for i in range(4):
        df = df.withColumn(
            f"cell_{i}",
            F.when(
                (F.col("event_id") + F.lit(i)) % F.lit(i + 2) == 0,
                F.col("value") * F.lit(i + 1),
            ),
        )
    arr = normalize_pseudo_arrays(df, "cell", 4)
    return arr.select("event_id", F.explode("cell").alias("c")).select(
        "event_id",
        F.col("c.slot").alias("slot"),
        F.col("c.value").alias("cell_value"),
    )


# ---------------------------------------------------------------------------
# T1/T2 — wide→tall unpivot (sync.go:187-208)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
    SELECT user_id AS token_id, ts AS timestamp, 'value' AS name,
           'events' AS source, value AS value_number,
           CAST(NULL AS VARCHAR) AS value_string
    FROM events WHERE value IS NOT NULL
    UNION ALL
    SELECT user_id, ts, 'value_pct', 'events', value * 100.0, NULL
    FROM events WHERE value IS NOT NULL
    UNION ALL
    SELECT user_id, ts, 'event_type', 'events', NULL, event_type
    FROM events WHERE event_type IS NOT NULL
    UNION ALL
    SELECT user_id, ts, 'props', 'events', NULL, props
    FROM events WHERE props IS NOT NULL
"""


@register("unpivot_signals", _UNPIVOT_ORACLE)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 — catalog-driven explode to tall (token_id, ts, name, values)."""
    df = _events(spark, sf_dir).withColumn("src", F.lit("events"))
    return unpivot_signals(
        df, EVENTS_CATALOG, token_col="user_id", ts_col="ts", source_col="src"
    )


# ---------------------------------------------------------------------------
# J1 — dimension join (deviceapi/service.go:52-105)
# ---------------------------------------------------------------------------

@register(
    "dim_join",
    """
    SELECT e.event_id, e.ts, e.user_id, c.c_name, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast LEFT join to the dimension; nulls = negative cache."""
    e = _events(spark, sf_dir)
    c = read_parquet_table(spark, sf_dir, "customer")
    dim = F.broadcast(c.select("c_custkey", "c_name", "c_mktsegment"))
    return e.join(dim, e.user_id == dim.c_custkey, "left").select(
        "event_id", "ts", "user_id", "c_name", "c_mktsegment"
    )


@register(
    "dim_join_unresolved",
    """
    SELECT e.event_id, e.user_id
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_custkey IS NULL
    """,
)
def q_dim_join_unresolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 negative path — subjects missing from the dimension (quarantine)."""
    e = _events(spark, sf_dir)
    dim = F.broadcast(
        read_parquet_table(spark, sf_dir, "customer").select("c_custkey")
    )
    return e.join(dim, e.user_id == dim.c_custkey, "left_anti").select("event_id", "user_id")


# ---------------------------------------------------------------------------
# A1/A2/A3/P4 — maintenance (clickhouse.go:65-110, sync.go:128-137,219-220)
# ---------------------------------------------------------------------------

@register(
    "oldest_signal",
    """
    SELECT min(ts) AS timestamp FROM events
    WHERE user_id = 7 AND event_type IN ('click', 'view')
    """,
)
def q_oldest_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — resume point: min(ts) ≡ ORDER BY ts ASC LIMIT 1."""
    return oldest_signal_ts(
        _events(spark, sf_dir), 7, names=["click", "view"],
        token_col="user_id", ts_col="ts", name_col="event_type",
    )


@register(
    "distinct_tokens",
    "SELECT DISTINCT user_id AS token_id FROM events ORDER BY token_id DESC",
)
def q_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3 — token discovery, processed descending."""
    return distinct_tokens(
        _events(spark, sf_dir).withColumnRenamed("user_id", "token_id")
    )


@register(
    "dedup_write",
    """
    SELECT DISTINCT user_id AS token_id, ts AS timestamp, event_type AS name
    FROM events
    """,
)
def q_dedup_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 — dedup on the signal key (ReplacingMergeTree analog)."""
    df = _events(spark, sf_dir).select(
        F.col("user_id").alias("token_id"),
        F.col("ts").alias("timestamp"),
        F.col("event_type").alias("name"),
    )
    return df.dropDuplicates(["token_id", "timestamp", "name"])


@register(
    "conflict_audit",
    """
    WITH doubled AS (
        SELECT user_id, ts, event_type FROM events
        UNION ALL
        SELECT user_id, ts, event_type FROM events
    )
    SELECT user_id AS token_id, ts AS timestamp, event_type AS name,
           count(*)::BIGINT AS n_rows
    FROM doubled GROUP BY 1, 2, 3 HAVING count(*) > 1
    """,
)
def q_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 invariant check — the post-merge duplicate-key report backing
    ReplacingMergeTree semantics (the sink's merge must leave the signal
    key unique).
    Run here against a deliberately doubled table so the audit provably
    *finds* conflicts (each key reported with its surviving-row count);
    tests assert it returns empty after write_signals' merge."""
    from es_ch_sync_spark.io.maintenance import audit_key_conflicts

    sig = _events(spark, sf_dir).select(
        F.col("user_id").alias("token_id"),
        F.col("ts").alias("timestamp"),
        F.col("event_type").alias("name"),
    )
    return audit_key_conflicts(sig.unionByName(sig))


@register(
    "resume_points",
    """
    SELECT user_id AS token_id, min(ts) AS min_ts, max(ts) AS max_ts
    FROM events GROUP BY user_id
    """,
)
def q_resume_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — per-token incremental watermark, one job for all tokens."""
    return resume_points(_events(spark, sf_dir).withColumnRenamed("user_id", "token_id"), ts_col="ts")


@register(
    "resume_points_incremental",
    """
    SELECT user_id AS token_id, min(ts) AS min_ts, max(ts) AS max_ts
    FROM events GROUP BY user_id
    """,
)
def q_resume_points_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 as CDC maintenance: the events table arrives as three disjoint
    batches; the resume summary is folded batch-by-batch with
    merge_resume_points instead of recomputed from the full table.  The
    oracle is the full-table groupBy — the gate proves the incremental fold
    converges to exactly the recomputed answer."""
    from es_ch_sync_spark.operators.maintenance import merge_resume_points

    ev = _events(spark, sf_dir).withColumnRenamed("user_id", "token_id")
    summary = None
    for chunk in range(3):
        batch = ev.filter(F.col("token_id") % 3 == chunk)
        summary = merge_resume_points(summary, resume_points(batch, ts_col="ts"))
    return summary


# ---------------------------------------------------------------------------
# Flagship: the composed sync pipeline on the events table
# ---------------------------------------------------------------------------

_SYNC_ORACLE = """
    WITH tall AS (
        SELECT user_id, ts, 'value' AS name, 'events' AS source,
               value AS value_number, CAST(NULL AS VARCHAR) AS value_string
        FROM events WHERE value IS NOT NULL
        UNION ALL
        SELECT user_id, ts, 'value_pct', 'events', value * 100.0, NULL
        FROM events WHERE value IS NOT NULL
        UNION ALL
        SELECT user_id, ts, 'event_type', 'events', NULL, event_type
        FROM events WHERE event_type IS NOT NULL
        UNION ALL
        SELECT user_id, ts, 'props', 'events', NULL, props
        FROM events WHERE props IS NOT NULL
    ),
    resolved AS (
        SELECT t.user_id AS token_id, t.ts AS timestamp, t.name, t.source,
               t.value_number, t.value_string
        FROM tall t JOIN customer c ON t.user_id = c.c_custkey
    )
    SELECT DISTINCT token_id, timestamp, name, source, value_number, value_string
    FROM resolved
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------

from es_ch_sync_spark import oracles  # noqa: E402
from es_ch_sync_spark.operators import dedup as dd  # noqa: E402
from es_ch_sync_spark.operators import multimodal as mm  # noqa: E402
from es_ch_sync_spark.operators import similarity as sim  # noqa: E402
from es_ch_sync_spark.operators.text import analyze_documents  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, "embeddings")


@register("text_analysis", oracles.text_analysis_sql())
def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, quality score, token counts, fingerprints — one map pass."""
    return analyze_documents(_docs(spark, sf_dir))


_REPETITION_ORACLE = """
    WITH n AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS ws FROM n
    ), grams AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(ws) - 1, 1) + 1),
            i -> array_to_string(list_slice(ws, i, i + 1), ' ')
        )) AS g
        FROM w
    ), counts AS (
        SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           sum(c)::BIGINT AS total_ngrams,
           count(*) AS distinct_ngrams,
           round(1.0 - count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS dup_ngram_frac,
           round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_ngram_frac
    FROM counts GROUP BY doc_id
"""


@register("text_repetition", _REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates: duplicate-2-gram fraction + top-gram
    mass per document."""
    from es_ch_sync_spark.operators.text import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


@register("dedup_exact", oracles.exact_dedup_sql())
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: only (md5, id) shuffles, never document bodies."""
    return dd.exact_duplicate_groups(_docs(spark, sf_dir))


@register("dedup_minhash_lsh", oracles.minhash_near_dup_sql(threshold=0.5))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified at ≥0.5."""
    return dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)


@register("dedup_clusters", oracles.dedup_clusters_sql(threshold=0.5))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the verified minhash
    pairs (iterative min-label propagation; recursive CTE in the oracle).
    cluster_id = min reachable doc_id — the keep-one representative."""
    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return dd.connected_components(pairs)


@register(
    "dedup_cluster_sizes",
    f"""
    WITH comp AS ({oracles.dedup_clusters_sql(threshold=0.5)}),
    sizes AS (
        SELECT cluster_id, count(*)::BIGINT AS cluster_size
        FROM comp GROUP BY cluster_id
    )
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           (cluster_size * count(*))::BIGINT AS n_docs,
           (cluster_size * count(*) - count(*))::BIGINT AS n_removable
    FROM sizes GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the dedup-audit summary a
    keep-one pass prints before deleting anything: how many clusters of
    each size exist, how many docs they hold, and the removable count
    (size − 1 per cluster).  Derives from the connected components over
    the verified minhash pairs with two more keyed aggregates; the
    histogram is bounded by the largest cluster size."""
    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    comp = dd.connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            (F.col("cluster_size") * F.col("n_clusters") - F.col("n_clusters"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@register("corpus_pipeline", oracles.corpus_pipeline_sql(threshold=0.5))
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining corpus pipeline in one plan: exact-dedup
    keep-one → minhash near-dup clustering over the survivors → keep each
    cluster's representative → append-stable split assignment.  Every
    stage is an already-verified operator; this checks their COMPOSITION
    (the thing a real pipeline actually runs) end to end."""
    from es_ch_sync_spark.operators.sampling import assign_split

    docs = _docs(spark, sf_dir)
    kept = dd.dedup_exact(docs)
    pairs = dd.minhash_near_duplicates(kept, threshold=0.5)
    clusters = dd.connected_components(pairs)
    nonreps = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    survivors = kept.join(nonreps, "doc_id", "left_anti")
    return assign_split(survivors).select("doc_id", "split")


@register(
    "dedup_ari_exact_vs_lsh",
    f"""
    WITH comp AS ({oracles.dedup_clusters_sql(threshold=0.5)}),
    la AS (
        SELECT doc_id, md5({oracles.NORM.format(col='text')}) AS label_a
        FROM documents
    ),
    lb AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id)::VARCHAR AS label_b
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    j AS (
        SELECT label_a, label_b, count(*)::BIGINT AS n
        FROM la JOIN lb USING (doc_id) GROUP BY 1, 2
    ),
    cij AS (
        SELECT sum(n)::BIGINT AS n_items,
               sum(n::HUGEINT * (n - 1) // 2)::HUGEINT AS sij
        FROM j
    ),
    ca AS (SELECT sum(a::HUGEINT * (a - 1) // 2)::HUGEINT AS sa
           FROM (SELECT sum(n)::BIGINT AS a FROM j GROUP BY label_a)),
    cb AS (SELECT sum(b::HUGEINT * (b - 1) // 2)::HUGEINT AS sb
           FROM (SELECT sum(n)::BIGINT AS b FROM j GROUP BY label_b))
    SELECT n_items, sij::BIGINT AS sum_comb_ij, sa::BIGINT AS sum_comb_a,
           sb::BIGINT AS sum_comb_b,
           round(CASE WHEN n_items::HUGEINT * (n_items - 1) // 2 > 0
                  AND abs((sa + sb)::DOUBLE / 2.0
                          - sa::DOUBLE * sb::DOUBLE
                            / (n_items::HUGEINT * (n_items - 1) // 2)::DOUBLE)
                      > 1e-12
                 THEN (sij::DOUBLE - sa::DOUBLE * sb::DOUBLE
                       / (n_items::HUGEINT * (n_items - 1) // 2)::DOUBLE)
                      / ((sa + sb)::DOUBLE / 2.0
                         - sa::DOUBLE * sb::DOUBLE
                           / (n_items::HUGEINT * (n_items - 1) // 2)::DOUBLE)
                 END, 6) AS ari
    FROM cij, ca, cb
    """,
)
def q_dedup_ari_exact_vs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand index between the EXACT-hash duplicate partition
    (md5 of normalized text; singletons are their own clusters) and the
    minhash-LSH connected-component partition — the chance-corrected
    audit of how much of the near-dup structure exact hashing alone
    recovers.  Contingency census off one id-keyed join; every comb2
    moment an exact integer."""
    from es_ch_sync_spark.operators.analytics import adjusted_rand_index
    from es_ch_sync_spark.operators.text import normalize_text

    docs = _docs(spark, sf_dir)
    la = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("label_a")
    )
    comp = dd.connected_components(
        dd.minhash_near_duplicates(docs, threshold=0.5)
    )
    lb = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("string")
            .alias("label_b"),
        )
    )
    return adjusted_rand_index(la, lb, "doc_id")


@register(
    "nmi_exact_vs_lsh",
    f"""
    WITH comp AS ({oracles.dedup_clusters_sql(threshold=0.5)}),
    la AS (
        SELECT doc_id, md5({oracles.NORM.format(col='text')}) AS label_a
        FROM documents
    ),
    lb AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id)::VARCHAR AS label_b
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    j AS MATERIALIZED (
        SELECT label_a, label_b, count(*)::BIGINT AS n
        FROM la JOIN lb USING (doc_id) GROUP BY 1, 2
    ),
    ca AS MATERIALIZED (SELECT label_a, sum(n)::BIGINT AS a FROM j GROUP BY 1),
    cb AS MATERIALIZED (SELECT label_b, sum(n)::BIGINT AS b FROM j GROUP BY 1),
    tot AS (SELECT sum(n)::BIGINT AS n_items FROM j),
    mi AS (
        SELECT sum(j.n::HUGEINT
                   * (CAST(round(ln(tot.n_items) * 1000000) AS BIGINT)
                      + CAST(round(ln(j.n) * 1000000) AS BIGINT)
                      - CAST(round(ln(ca.a) * 1000000) AS BIGINT)
                      - CAST(round(ln(cb.b) * 1000000) AS BIGINT))::HUGEINT
               )::HUGEINT AS smi
        FROM j JOIN ca USING (label_a) JOIN cb USING (label_b), tot
    ),
    ha AS (
        SELECT sum(a::HUGEINT
                   * (CAST(round(ln(tot.n_items) * 1000000) AS BIGINT)
                      - CAST(round(ln(a) * 1000000) AS BIGINT))::HUGEINT
               )::HUGEINT AS sha
        FROM ca, tot
    ),
    hb AS (
        SELECT sum(b::HUGEINT
                   * (CAST(round(ln(tot.n_items) * 1000000) AS BIGINT)
                      - CAST(round(ln(b) * 1000000) AS BIGINT))::HUGEINT
               )::HUGEINT AS shb
        FROM cb, tot
    )
    SELECT n_items,
           round(smi::DOUBLE / (n_items::DOUBLE * 1000000.0), 6) AS mi_nats,
           round(sha::DOUBLE / (n_items::DOUBLE * 1000000.0), 6) AS h_a_nats,
           round(shb::DOUBLE / (n_items::DOUBLE * 1000000.0), 6) AS h_b_nats,
           round(CASE WHEN sha > 0 THEN smi::DOUBLE / sha::DOUBLE END, 6)
               AS homogeneity,
           round(CASE WHEN shb > 0 THEN smi::DOUBLE / shb::DOUBLE END, 6)
               AS completeness,
           round(CASE WHEN sha + shb > 0
                 THEN 2.0 * smi::DOUBLE / (sha + shb)::DOUBLE END, 6)
               AS v_measure
    FROM tot, mi, ha, hb
    """,
)
def q_nmi_exact_vs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information / homogeneity / completeness /
    V-measure between the exact-hash duplicate partition and the
    minhash-LSH component partition — the entropy-based companion to
    dedup_ari_exact_vs_lsh on the SAME contingency shape: ARI's pair
    counts are swamped by a giant component, the information-theoretic
    readouts are not.  Micro-quantized ln per census row; every sum an
    exact DECIMAL(38,0); each readout one float division."""
    from es_ch_sync_spark.operators.analytics import nmi_vmeasure
    from es_ch_sync_spark.operators.text import normalize_text

    docs = _docs(spark, sf_dir)
    la = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("label_a")
    )
    comp = dd.connected_components(
        dd.minhash_near_duplicates(docs, threshold=0.5)
    )
    lb = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("string")
            .alias("label_b"),
        )
    )
    return nmi_vmeasure(la, lb, "doc_id")


def _dedup_audit_panel_oracle() -> str:
    """SQL mirror of dd.dedup_audit_panel: ONE materialized audit CTE
    (candidates + est_matches + exact Jaccard) feeds the calibration
    census, the CC walk → cluster-size histogram, and the shared
    contingency census behind the ARI and NMI readouts — each block
    identical to its standalone oracle, CTEs renamed to coexist."""
    est = " + ".join(
        f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    lnm = "CAST(round(ln({v}) * 1000000) AS BIGINT)"
    return f"""
    WITH RECURSIVE audit AS MATERIALIZED (
        {oracles._minhash_buckets_sql(8, 4, 3)}
        , cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT c.id_a, c.id_b,
               ({est})::BIGINT AS est_matches,
               round(
                 len(list_filter(x.shs, s -> list_contains(y.shs, s)))::DOUBLE
                 / (len(x.shs) + len(y.shs)
                    - len(list_filter(x.shs, s -> list_contains(y.shs, s))))::DOUBLE,
                 6) AS jaccard
        FROM cand c
        JOIN mh x ON c.id_a = x.doc_id JOIN mh y ON c.id_b = y.doc_id
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM audit WHERE jaccard >= 0.5
        UNION
        SELECT id_b, id_a FROM audit WHERE jaccard >= 0.5
    ),
    walk(id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w2.label FROM edges e JOIN walk w2 ON w2.id = e.dst
    ),
    comp AS MATERIALIZED (
        SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id
    ),
    sizes AS (
        SELECT cluster_id, count(*)::BIGINT AS cluster_size
        FROM comp GROUP BY 1
    ),
    hist AS (
        SELECT cluster_size, count(*)::BIGINT AS n_clusters
        FROM sizes GROUP BY 1
    ),
    la AS (
        SELECT doc_id, md5({oracles.NORM.format(col='text')}) AS label_a
        FROM documents
    ),
    lb AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id)::VARCHAR AS label_b
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    cj AS MATERIALIZED (
        SELECT label_a, label_b, count(*)::BIGINT AS n
        FROM la JOIN lb USING (doc_id) GROUP BY 1, 2
    ),
    acij AS (
        SELECT sum(n)::BIGINT AS n_items,
               sum(n::HUGEINT * (n - 1) // 2)::HUGEINT AS sij
        FROM cj
    ),
    asa AS (SELECT sum(a::HUGEINT * (a - 1) // 2)::HUGEINT AS sa
            FROM (SELECT sum(n)::BIGINT AS a FROM cj GROUP BY label_a)),
    asb AS (SELECT sum(b::HUGEINT * (b - 1) // 2)::HUGEINT AS sb
            FROM (SELECT sum(n)::BIGINT AS b FROM cj GROUP BY label_b)),
    nca AS MATERIALIZED (SELECT label_a, sum(n)::BIGINT AS a FROM cj GROUP BY 1),
    ncb AS MATERIALIZED (SELECT label_b, sum(n)::BIGINT AS b FROM cj GROUP BY 1),
    ntot AS (SELECT sum(n)::BIGINT AS n_items FROM cj),
    nmi_s AS (
        SELECT sum(cj.n::HUGEINT
                   * ({lnm.format(v='ntot.n_items')}
                      + {lnm.format(v='cj.n')}
                      - {lnm.format(v='nca.a')}
                      - {lnm.format(v='ncb.b')})::HUGEINT
               )::HUGEINT AS smi
        FROM cj JOIN nca USING (label_a) JOIN ncb USING (label_b), ntot
    ),
    nha AS (
        SELECT sum(a::HUGEINT
                   * ({lnm.format(v='ntot.n_items')}
                      - {lnm.format(v='a')})::HUGEINT)::HUGEINT AS sha
        FROM nca, ntot
    ),
    nhb AS (
        SELECT sum(b::HUGEINT
                   * ({lnm.format(v='ntot.n_items')}
                      - {lnm.format(v='b')})::HUGEINT)::HUGEINT AS shb
        FROM ncb, ntot
    )
    SELECT 'calibration' AS section, est_matches::BIGINT AS k1,
           least(floor(jaccard * 10), 9)::BIGINT AS k2,
           'n_pairs' AS metric, count(*)::DOUBLE AS value
    FROM audit GROUP BY 1, 2, 3, 4
    UNION ALL
    SELECT 'cluster_sizes', cluster_size::BIGINT, NULL::BIGINT, m.metric,
           (CASE m.metric WHEN 'n_clusters' THEN n_clusters
                          WHEN 'n_docs' THEN cluster_size * n_clusters
                          ELSE cluster_size * n_clusters - n_clusters
            END)::DOUBLE
    FROM hist,
         (VALUES ('n_clusters'), ('n_docs'), ('n_removable')) m(metric)
    UNION ALL
    SELECT 'ari', NULL::BIGINT, NULL::BIGINT, m.metric,
           CASE m.metric
             WHEN 'n_items' THEN n_items::DOUBLE
             WHEN 'sum_comb_ij' THEN sij::DOUBLE
             WHEN 'sum_comb_a' THEN sa::DOUBLE
             WHEN 'sum_comb_b' THEN sb::DOUBLE
             ELSE round(
               CASE WHEN n_items::HUGEINT * (n_items - 1) // 2 > 0
                     AND abs((sa + sb)::DOUBLE / 2.0
                             - sa::DOUBLE * sb::DOUBLE
                               / (n_items::HUGEINT * (n_items - 1) // 2)::DOUBLE)
                         > 1e-12
               THEN (sij::DOUBLE - sa::DOUBLE * sb::DOUBLE
                     / (n_items::HUGEINT * (n_items - 1) // 2)::DOUBLE)
                    / ((sa + sb)::DOUBLE / 2.0
                       - sa::DOUBLE * sb::DOUBLE
                         / (n_items::HUGEINT * (n_items - 1) // 2)::DOUBLE)
               END, 6)
           END
    FROM acij, asa, asb,
         (VALUES ('n_items'), ('sum_comb_ij'), ('sum_comb_a'),
                 ('sum_comb_b'), ('ari')) m(metric)
    UNION ALL
    SELECT 'nmi', NULL::BIGINT, NULL::BIGINT, m.metric,
           CASE m.metric
             WHEN 'n_items' THEN n_items::DOUBLE
             WHEN 'mi_nats' THEN
               round(smi::DOUBLE / (n_items::DOUBLE * 1000000.0), 6)
             WHEN 'h_a_nats' THEN
               round(sha::DOUBLE / (n_items::DOUBLE * 1000000.0), 6)
             WHEN 'h_b_nats' THEN
               round(shb::DOUBLE / (n_items::DOUBLE * 1000000.0), 6)
             WHEN 'homogeneity' THEN
               round(CASE WHEN sha > 0 THEN smi::DOUBLE / sha::DOUBLE END, 6)
             WHEN 'completeness' THEN
               round(CASE WHEN shb > 0 THEN smi::DOUBLE / shb::DOUBLE END, 6)
             ELSE round(CASE WHEN sha + shb > 0
                        THEN 2.0 * smi::DOUBLE / (sha + shb)::DOUBLE END, 6)
           END
    FROM ntot, nmi_s, nha, nhb,
         (VALUES ('n_items'), ('mi_nats'), ('h_a_nats'), ('h_b_nats'),
                 ('homogeneity'), ('completeness'), ('v_measure')) m(metric)
    ORDER BY section, k1, k2, metric
    """


@register("dedup_audit_panel", _dedup_audit_panel_oracle())
def q_dedup_audit_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four dedup-audit readouts — minhash-estimator calibration
    census, keep-one cluster-size histogram, and the ARI + NMI agreement
    of the LSH partition against the exact-hash partition — off ONE
    checkpointed minhash mining (r12 verdict directive #1: the
    standalones each re-pay the ~same signature/candidate/CC upstream;
    the driver/cron one-query-per-session shape pays it 4x).
    Long-format (section, k1, k2, metric, value) because the sections
    have incompatible row shapes."""
    return dd.dedup_audit_panel(_docs(spark, sf_dir), threshold=0.5)


def _split_leakage_oracle() -> str:
    pairs = oracles.minhash_near_dup_sql(threshold=0.5)
    split_a = oracles._split_case_sql(id_expr="id_a")
    split_b = oracles._split_case_sql(id_expr="id_b")
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    lab AS (
        SELECT {split_a} AS sa, {split_b} AS sb FROM pairs
    ),
    norm AS (
        SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b
        FROM lab
    )
    SELECT split_a, split_b, count(*)::BIGINT AS n_pairs,
           (least(split_a, split_b) != greatest(split_a, split_b))
               AS crosses_split
    FROM norm GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("split_leakage_report", _split_leakage_oracle())
def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs that CROSS the train/valid/test boundary —
    the leakage audit decontaminate_* cannot see (those check exact and
    fuzzy n-gram containment against a benchmark table; this asks
    whether the corpus's OWN near-dup structure straddles the split, the
    classic way test metrics go quietly optimistic).  Composition of two
    verified operators: the minhash near-dup pair miner and the
    hash-bucket split assigner, joined pair-side (labels attach to the
    pair list, never a second corpus pass).  Output: pair counts by
    unordered split pair with the crosses_split flag."""
    from es_ch_sync_spark.operators.sampling import assign_split

    docs = _docs(spark, sf_dir)
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
    # assign splits to BOTH pair sides by reusing the same deterministic
    # hash-bucket expression — no join back to documents is needed
    # (split is a pure function of the id)
    sa = assign_split(pairs.select("id_a", "id_b"), id_col="id_a").select(
        "id_a", "id_b", F.col("split").alias("_sa")
    )
    both = assign_split(sa, id_col="id_b").select(
        "_sa", F.col("split").alias("_sb")
    )
    norm = both.select(
        F.least("_sa", "_sb").alias("split_a"),
        F.greatest("_sa", "_sb").alias("split_b"),
    )
    return (
        norm.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("crosses_split"),
        )
        .orderBy("split_a", "split_b")
    )


@register("dedup_incremental", oracles.minhash_incremental_sql(threshold=0.5, new_mod=10))
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the 10% "new batch" (doc_id % 10 = 0)
    paired against the indexed 90% only — never index×index.  The daily
    production pattern: candidate volume scales with the batch, not the
    corpus."""
    docs = _docs(spark, sf_dir)
    return dd.minhash_incremental(
        docs, F.col("doc_id") % 10 == 0, threshold=0.5
    )


@register("dedup_clusters_star", oracles.dedup_clusters_sql(threshold=0.5))
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via large/small-star alternation (Kiveris 2014) — the
    O(log²)-round 100 TB path.  Output contract identical to propagation,
    so the SAME recursive-CTE oracle checks it."""
    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return dd.connected_components_star(pairs)


@register("dedup_simhash", oracles.simhash_near_dup_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (60-bit, 15-bit pigeonhole bands, Hamming ≤12)."""
    return dd.simhash_near_duplicates(_docs(spark, sf_dir))


@register("ngram_jaccard", oracles.ngram_jaccard_sql(threshold=0.3))
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >0.3 via explode+equi-join (no cross join)."""
    return dd.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)


@register("dedup_containment", oracles.containment_sql(threshold=0.5))
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs over the minhash LSH candidate
    set — the quote-inclusion dedup signal symmetric Jaccard underweights
    (a short doc embedded in a long one scores ~1.0 from its own side).
    Same banded front end as dedup_minhash_lsh; each containment one
    float division of exact set sizes."""
    return dd.containment_pairs_lsh(_docs(spark, sf_dir), threshold=0.5)


@register("containment_pairs_prefix", oracles.containment_prefix_sql(threshold=0.5))
def q_containment_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-FIRST miner (r10 verdict directive #1): prefix-filter
    candidate generation on the probing side's rarest shingles, recall
    exactly 1 for either-direction containment ≥ 0.5 — closes the
    low-Jaccard/high-containment recall hole of dedup_containment's
    minhash front end.  The exhaustive oracle is a proof of the filter."""
    return dd.containment_pairs_prefix(_docs(spark, sf_dir), threshold=0.5)


@register("edit_distance_pairs", oracles.edit_distance_pairs_sql(max_distance=25))
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dups: Levenshtein ≤ 25 on normalized text
    over the minhash LSH candidate set — the edit-cost lens next to the
    shingle-set miners (catches in-place typo/OCR/template-fill edits
    whose characterwise cost set-overlap underprices).  Banded
    threshold Levenshtein (O(len·d), −1 above the cap) + the lossless
    ||a|−|b|| ≤ d length filter; verification touches candidates only."""
    return dd.edit_distance_pairs(_docs(spark, sf_dir), max_distance=25)


@register("tfidf_top_terms", oracles.tfidf_top_terms_sql(k=3))
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·ln(N/df); corpus stats via
    two partial aggs + broadcast joins, per-doc window top-k."""
    from es_ch_sync_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register("train_test_split", oracles.train_test_split_sql())
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split by md5 hash-bucket of doc_id — stable
    under reordering, repartitioning, and incremental appends (unlike
    randomSplit), so membership never leaks across pipeline runs."""
    from es_ch_sync_spark.operators.sampling import assign_split

    return assign_split(_docs(spark, sf_dir)).select("doc_id", "split")


@register("decontaminate", oracles.decontaminate_sql(ngram_k=5))
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination report: train docs sharing ≥1 word 5-gram
    with the held-out split (GPT-3-style n-gram decontamination).  Shingle
    equi-join, never doc×doc; the 5% holdout gram table broadcasts."""
    from es_ch_sync_spark.operators.sampling import decontaminate

    return decontaminate(_docs(spark, sf_dir), ngram_k=5)


@register("pack_sequences", oracles.pack_sequences_sql(budget=512, n_shards=32))
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: per-shard token-offset assignment into
    512-token training sequences (all-integer window cumsum, 32-way
    shard-parallel)."""
    from es_ch_sync_spark.operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, n_shards=32)


@register("source_cap", oracles.source_cap_sql(cap=50))
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (CommonCrawl-style anti-boilerplate gate):
    keep ≤50 docs per source, hash-random within source, append-stable."""
    from es_ch_sync_spark.operators.sampling import source_cap

    return source_cap(_docs(spark, sf_dir), cap=50)


@register("global_shuffle", oracles.global_shuffle_sql())
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle permutation: two-phase
    bucketed rank (parallel windows + tiny offset table) that equals one
    row_number over the composite (bucket, md5, id) order — no
    single-partition global window."""
    from es_ch_sync_spark.operators.sampling import global_shuffle

    return global_shuffle(_docs(spark, sf_dir))


@register("quality_budget_select", oracles.quality_budget_select_sql(budget_tokens=100_000))
def q_quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first corpus selection under a 100k-token budget (the
    data-mixing step): cumulative tokens over the quality order, keep the
    within-budget prefix."""
    from es_ch_sync_spark.operators.sampling import quality_budget_select

    return quality_budget_select(_docs(spark, sf_dir), budget_tokens=100_000)


_STRATA_FRACTIONS = {"click": 0.5, "view": 0.1, "error": 1.0}


@register(
    "stratified_sample",
    oracles.stratified_sample_sql("event_type", _STRATA_FRACTIONS),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample (rebalance sources:
    keep all errors, half the clicks, a tenth of the views)."""
    from es_ch_sync_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _events(spark, sf_dir),
        "event_type",
        _STRATA_FRACTIONS,
        id_col="event_id",
    ).select("event_id", "ts", "user_id", "event_type")


@register("embedding_near_dup", oracles.embedding_near_dup_sql(threshold=0.4, n_planes=12, bands=3))
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, SRP-LSH blocked (3×4-bit bands: 16
    buckets/band keeps the candidate set ~n²/16 per band)."""
    return sim.embedding_near_duplicates(_emb(spark, sf_dir), threshold=0.4, n_planes=12, bands=3)


def _query_vec(sf_dir: str, vec_id: int = 0) -> list[float]:
    """Driver-side fetch of the query vector (one row, one footer read)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    idx = t.column("vec_id").to_pylist().index(vec_id)
    return t.column("embedding").to_pylist()[idx]


@register("ann_cosine_topk", oracles.cosine_topk_sql(query_id=0, k=10))
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to vec 0 — the exact ANN baseline."""
    return sim.cosine_topk(_emb(spark, sf_dir), _query_vec(sf_dir), k=10, exclude_id=0)


@register("mmr_rerank_topk", oracles.mmr_rerank_sql(query_id=0, k=5, pool=15))
def q_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking [Carbonell-Goldstein 1998] of the cosine
    top-15 pool to vec 0: greedy k=5 picks maximizing the exact integer
    7·rel_m − 3·max_sim_m (λ = 0.7), ties by id — the redundancy-damping
    pass over raw top-k.  All arithmetic in-engine; the k−1 single-row
    collects are the GD-step bounded pattern; the oracle unrolls one
    selection CTE per pick."""
    return sim.mmr_rerank(
        _emb(spark, sf_dir), _query_vec(sf_dir), k=5, pool=15, exclude_id=0
    )


@register("mips_topk", oracles.inner_product_topk_sql(query_id=0, k=10))
def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by raw INNER PRODUCT to vec 0 (MIPS) — the retrieval
    scoring for un-normalized embedding models, where cosine top-k is the
    wrong answer.  The Bachrach-et-al norm-augmentation reduction (append
    sqrt(M²−‖x‖²); every augmented vector has norm M) makes the existing
    cosine LSH/IVF stack serve MIPS unchanged — order-equivalence is
    pinned in tests/test_dedup_similarity.py; this query is the exact
    baseline those indexes are judged against."""
    return sim.inner_product_topk(
        _emb(spark, sf_dir), _query_vec(sf_dir), k=10, exclude_id=0
    )


@register("ann_lsh_topk", oracles.lsh_ann_topk_sql(query_id=0, k=10))
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN top-10 — scores only band-matching candidates."""
    return sim.lsh_ann_topk(_emb(spark, sf_dir), _query_vec(sf_dir), k=10, exclude_id=0)


@register("knn_join", oracles.knn_join_sql(k=3))
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-NN for every vector (correctness baseline for ANN variants)."""
    return sim.knn_join(_emb(spark, sf_dir), k=3)


@register("knn_join_blocked", oracles.knn_join_sql(k=3))
def q_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-NN via blocked numpy matmul (vectorized Pandas UDF) — same
    oracle as knn_join, ~2 orders faster arithmetic."""
    return sim.knn_join_blocked(_emb(spark, sf_dir), k=3)


@register("multimodal_features", oracles.multimodal_features_sql())
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: blob → (n_bytes, md5, feature[8]) through
    map_blobs, the one Arrow (mapInArrow) boundary every blob kernel
    shares; a null blob gives an all-null stats row.

    The registered form posexplodes the feature vector to scalar
    (pos, feature_value) rows — the driver's canonicalizer hashes scalar
    cells only (array cells are unsortable in pandas); the operator itself
    still returns array<float>."""
    media = mm.media_from_documents(_docs(spark, sf_dir))
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "content_md5",
        F.posexplode("feature").alias("pos", "fv"),
    ).select(
        "media_id",
        "n_bytes",
        "content_md5",
        "pos",
        F.round(F.col("fv").cast("double"), 6).alias("feature_value"),
    )


_FRAME_PLAN_ORACLE = """
    WITH f AS (
        SELECT doc_id AS media_id,
               unnest(range(0, (length(text) * 10) // 500 + 1)) AS frame_idx
        FROM documents
    )
    SELECT media_id, frame_idx, frame_idx * 500 AS frame_ts_ms FROM f
"""


@register("multimodal_frame_plan", _FRAME_PLAN_ORACLE)
def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling schedule (1 frame / 500 ms) from metadata only —
    the blob column is pruned at the scan; decode stays stubbed
    (`sample_video_frames`), the plan is real and oracle-checked."""
    media = mm.video_media_from_documents(_docs(spark, sf_dir))
    return mm.plan_frame_samples(media, every_ms=500)


_AUDIO_CHUNK_ORACLE = """
    WITH a AS (
        SELECT doc_id AS media_id, length(text) * 10 AS dur,
               unnest(range(0, greatest((length(text) * 10 - 1000) // 500, 0) + 1)) AS chunk_idx
        FROM documents
    )
    SELECT media_id, chunk_idx, chunk_idx * 500 AS start_ms,
           least(chunk_idx * 500 + 1000, dur) AS end_ms
    FROM a
"""


@register("multimodal_audio_chunks", _AUDIO_CHUNK_ORACLE)
def q_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation schedule (1000 ms windows, 500 ms hop) from
    metadata only — the audio sibling of multimodal_frame_plan; blob column
    pruned at the scan, decode stubbed, plan oracle-checked."""
    media = mm.audio_media_from_documents(_docs(spark, sf_dir))
    return mm.plan_audio_chunks(media, chunk_ms=1000, hop_ms=500)


# -- REAL lib-free decode: the oracle recomputes each statistic from the
#    closed-form generating formula, so the Spark side's encode → parse →
#    decode → numpy pipeline must round-trip bit-exactly to match --------

_PIXEL_STATS_ORACLE = """
    WITH px AS (
        SELECT doc_id AS media_id,
               unnest(range(0, 48)) AS p
        FROM documents
    )
    SELECT media_id, 8 AS width, 6 AS height,
           round(avg(CAST((media_id + 3 * (p % 8) + 5 * (p // 8)) % 256 AS DOUBLE)), 4) AS mean_r,
           round(avg(CAST((media_id + 3 * (p % 8) + 5 * (p // 8) + 85) % 256 AS DOUBLE)), 4) AS mean_g,
           round(avg(CAST((media_id + 3 * (p % 8) + 5 * (p // 8) + 170) % 256 AS DOUBLE)), 4) AS mean_b
    FROM px GROUP BY media_id
"""


@register("multimodal_pixel_stats", _PIXEL_STATS_ORACLE)
def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, no image library: deterministic 8×6 24-bpp BMP
    blobs (pixel = (id + 3x + 5y + 85c) mod 256) are encoded executor-side,
    then extract_pixel_features parses the BMP container and computes
    per-channel means in numpy.  The oracle recomputes the means from the
    generating formula — a value-hash match proves the whole
    encode→decode→stats round trip, not just the plumbing."""
    media = mm.synth_media(_docs(spark, sf_dir), "image")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


_WAV_RMS_ORACLE = """
    WITH s AS (
        SELECT doc_id AS media_id, (doc_id % 20 + 5) * 80 AS n,
               unnest(range(0, (doc_id % 20 + 5) * 80)) AS i
        FROM documents WHERE doc_id < 2000
    )
    SELECT media_id,
           i // 800 AS chunk_idx,
           (i // 800) * 100 AS start_ms,
           least((i // 800 + 1) * 800, n) // 8 AS end_ms,
           count(*) AS n_samples,
           round(sqrt(avg(CAST((((media_id * 31 + 7 * i) % 4096) - 2048)
                              * (((media_id * 31 + 7 * i) % 4096) - 2048) AS DOUBLE))), 4) AS rms
    FROM s GROUP BY media_id, n, i // 800
"""


@register("multimodal_wav_rms", _WAV_RMS_ORACLE)
def q_multimodal_wav_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM chunking, no audio library: deterministic PCM-16 mono
    RIFF blobs (8 kHz, sample(i) = ((31·id + 7i) mod 4096) − 2048) are
    encoded executor-side, then chunk_wav walks the RIFF chunk list, splits
    the sample stream into 100 ms windows and computes per-chunk RMS.  The
    oracle recomputes every window's RMS from the generating formula."""
    media = mm.synth_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 2000), "audio"
    )
    return mm.chunk_wav(media, chunk_ms=100).select(
        "media_id", "chunk_idx", "start_ms", "end_ms", "n_samples", "rms"
    )


_RESIZE_STATS_ORACLE = """
    WITH px AS (
        SELECT doc_id AS media_id,
               unnest(range(0, 12)) AS p
        FROM documents
    )
    SELECT media_id, 4 AS width, 3 AS height,
           round(avg(CAST((media_id + 6 * (p % 4) + 10 * (p // 4)) % 256 AS DOUBLE)), 4) AS mean_r,
           round(avg(CAST((media_id + 6 * (p % 4) + 10 * (p // 4) + 85) % 256 AS DOUBLE)), 4) AS mean_g,
           round(avg(CAST((media_id + 6 * (p % 4) + 10 * (p // 4) + 170) % 256 AS DOUBLE)), 4) AS mean_b
    FROM px GROUP BY media_id
"""


@register("multimodal_resize_stats", _RESIZE_STATS_ORACLE)
def q_multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed resize verified end to end: synth BMP → resize_media
    (decode → 2× nearest-neighbor downsample → re-encode BMP) →
    extract_pixel_features on the RESIZED blobs.  NN with the exact 2×
    ratio picks source pixel (2x', 2y'), so the resized gradient has the
    closed form (id + 6x' + 10y' + 85c) mod 256 — which is what the oracle
    computes.  Two full encode/decode cycles must round-trip to match."""
    media = mm.synth_media(_docs(spark, sf_dir), "image")
    resized = mm.resize_media(media, width=4, height=3)
    return mm.extract_pixel_features(resized).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


@register(
    "embedding_density_clusters",
    """
    WITH RECURSIVE p AS (
        SELECT floor(round(embedding[1]::DOUBLE * 1000000) / 100000.0)::BIGINT
                   AS cx,
               floor(round(embedding[2]::DOUBLE * 1000000) / 100000.0)::BIGINT
                   AS cy
        FROM embeddings
    ),
    cells AS (SELECT cx, cy, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
    dense AS MATERIALIZED (
        SELECT cx, cy, n, cx::VARCHAR || ':' || cy::VARCHAR AS key
        FROM cells WHERE n >= 10
    ),
    offs AS (
        SELECT dx, dy
        FROM (SELECT unnest([-1, 0, 1]) AS dx), (SELECT unnest([-1, 0, 1]) AS dy)
        WHERE NOT (dx = 0 AND dy = 0)
    ),
    ed AS (
        SELECT a.key AS id_a, b.key AS id_b
        FROM dense a
        JOIN offs ON TRUE
        JOIN dense b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
        WHERE a.key < b.key
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM ed
        UNION
        SELECT id_b, id_a FROM ed
    ),
    walk(id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst
    ),
    comp AS (SELECT id AS key, min(label) AS cluster_id FROM walk GROUP BY id),
    lab AS (
        SELECT coalesce(c.cluster_id, d.key) AS cluster_id, d.n
        FROM dense d LEFT JOIN comp c ON d.key = c.key
    )
    SELECT cluster_id, count(*)::BIGINT AS n_cells, sum(n)::BIGINT AS n_points
    FROM lab GROUP BY 1 ORDER BY 1
    """,
)
def q_embedding_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based density clusters (cell-level DBSCAN) over the first
    two embedding dimensions — how many density modes does the corpus
    occupy, without choosing k: ε-cells with ≥ min_pts points connect
    through their 8-neighborhood into clusters; sparse cells are
    noise.  The cell graph (never the point ε-graph) goes through the
    same min-label CC as dedup; the 8-offset join is an equi-join."""
    from es_ch_sync_spark.operators.clustering import grid_density_clusters

    emb = _emb(spark, sf_dir).select(
        F.col("embedding").getItem(0).alias("x"),
        F.col("embedding").getItem(1).alias("y"),
    )
    return grid_density_clusters(emb, "x", "y", eps=0.1, min_pts=10)


@register("multimodal_png_stats", _PIXEL_STATS_ORACLE)
def q_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, no image library: the same deterministic 8×6
    gradient as multimodal_pixel_stats, but PNG-encoded executor-side
    (stdlib zlib deflate, filter-0 scanlines, CRC'd chunks) and decoded
    back through chunk walk → inflate → unfilter → numpy stats.  The
    SAME generating-formula oracle checks it, so a value-hash match
    proves the full PNG container round trip — the codec gate that
    used to raise NotImplementedError is now a real decoder (as of
    r15 only lossy WebP/MP4 still gate on an external library)."""
    media = mm.synth_media(_docs(spark, sf_dir), "png")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


@register("multimodal_png_variants", _PIXEL_STATS_ORACLE)
def q_multimodal_png_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode across the r15 variant matrix: the corpus rotates
    through truecolor / paletted / truecolor+Adam7 / paletted+Adam7 by
    media_id (operators/multimodal.py decode_png now covers grayscale,
    palette, 16-bit and Adam7 interlace — the variants a real web corpus
    actually contains).  All variants are lossless, so the SAME
    generating-formula oracle value-hashes every one of them."""
    media = mm.synth_media(_docs(spark, sf_dir), "pngx")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


@register("multimodal_webp_stats", _PIXEL_STATS_ORACLE)
def q_multimodal_webp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode, no image library (r14 VERDICT
    directive #6): the same deterministic 8×6 gradient, VP8L-encoded
    executor-side (operators/webp.py — canonical prefix codes behind the
    spec's code-length coding) with media_id selecting the transform
    path (plain literals / SUBTRACT_GREEN / PREDICTOR mode 0..13), then
    decoded back through RIFF walk → prefix decode → inverse transforms
    → numpy stats.  Lossless means the SAME generating-formula oracle
    checks every variant; lossy VP8 and VP8X still gate by name."""
    media = mm.synth_media(_docs(spark, sf_dir), "webp")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


_JPEG_STATS_ORACLE = """
    WITH px AS (
        SELECT doc_id AS media_id, unnest(range(0, 4)) AS b
        FROM documents
    )
    SELECT media_id, 16 AS width, 16 AS height,
           round(avg(CAST((7 * media_id + 13 * (b % 2) + 29 * (b // 2)) % 256
                          AS DOUBLE)), 4) AS mean_r,
           round(avg(CAST((7 * media_id + 13 * (b % 2) + 29 * (b // 2)) % 256
                          AS DOUBLE)), 4) AS mean_g,
           round(avg(CAST((7 * media_id + 13 * (b % 2) + 29 * (b // 2)) % 256
                          AS DOUBLE)), 4) AS mean_b
    FROM px GROUP BY media_id
"""


@register("multimodal_jpeg_stats", _JPEG_STATS_ORACLE)
def q_multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, no image library (r13 VERDICT #1/#2):
    8×8-block-constant 16×16 grayscale fixtures are entropy-coded
    executor-side by the pure-numpy encoder (canonical Huffman, q=1) and
    decoded back through marker walk → Huffman → dequant → de-zigzag →
    IDCT → stats.  Constant blocks + an all-ones quantization table make
    the lossy codec exact (DC = 8·(v−128), AC = 0), so the
    generating-formula oracle hash-matches a REAL JPEG round trip —
    progressive/arithmetic/12-bit still gate explicitly."""
    media = mm.synth_media(_docs(spark, sf_dir), "jpeg")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


_GIF_DEDUP_ORACLE = """
    WITH f AS (
        SELECT doc_id AS media_id,
               (doc_id // 4) % 4 AS v,
               unnest(range(0, doc_id % 4 + 2)) AS s
        FROM documents WHERE doc_id < 2000
    ), cc AS (
        -- composed frame = (left half gray L, right half gray R);
        -- c(f) = (13 id + 19 f) % 256, background B = 0 (GCT[0]).
        SELECT media_id, v, s,
               (13 * media_id + 19 * s) % 256 AS cf,
               (13 * media_id) % 256 AS c0
        FROM f
    ), fr AS (
        SELECT media_id,
            CASE
              WHEN v = 0 THEN cf * 256 + cf
              WHEN s = 0 THEN c0 * 256 + c0
              WHEN v = 1 THEN
                ((13 * media_id
                  + 19 * (CASE WHEN s % 2 = 1 THEN s ELSE s - 1 END))
                 % 256) * 256
                + (CASE WHEN s < 2 THEN c0
                        ELSE (13 * media_id
                              + 19 * (CASE WHEN s % 2 = 0
                                           THEN s ELSE s - 1 END)) % 256
                   END)
              WHEN v = 2 THEN
                cf * 256 + (CASE WHEN s = 1 THEN c0 ELSE 0 END)
              WHEN s % 2 = 1 THEN cf * 256 + c0
              ELSE c0 * 256 + cf
            END AS key
        FROM cc
    ), g AS (
        SELECT key, count(*)::BIGINT AS n_frames,
               count(DISTINCT media_id)::BIGINT AS n_clips
        FROM fr GROUP BY key
    )
    SELECT n_frames, n_clips, count(*)::BIGINT AS n_groups
    FROM g GROUP BY 1, 2
"""


@register("gif_frame_dedup", _GIF_DEDUP_ORACLE)
def q_gif_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-clip duplicate-frame census over ANIMATED GIFs (r14 VERDICT
    directive #2; r16 directive #1 adds COMPOSITING): deterministic
    GIF89a clips ((doc_id mod 4)+2 frames) rotate four encoding variants
    by (doc_id//4) mod 4 — full-canvas opaque, partial-canvas half
    blits, transparent-index + disposal 2 (restore-to-background), and
    disposal 3 (restore-to-previous).  Every frame is LZW-decoded,
    COMPOSED onto the canvas state machine, md5-fingerprinted, grouped
    corpus-wide and rolled up to a (n_frames, n_clips) → n_groups
    census.  The oracle regenerates each composed frame's
    (left-half, right-half) gray pair from the generating formula, so a
    hash match proves GCE walk + LZW + blit/transparency/disposal
    compositing end to end."""
    media = mm.synth_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 2000), "agif"
    )
    return mm.gif_frame_dedup(media)


_PJPEG_STATS_ORACLE = """
    WITH px AS (
        SELECT doc_id AS media_id, unnest(range(0, 4)) AS b
        FROM documents
    )
    SELECT media_id, 16 AS width, 16 AS height,
           round(avg(CAST((19 * media_id + 31 * (b % 2) + 53 * (b // 2)) % 256
                          AS DOUBLE)), 4) AS mean_r,
           round(avg(CAST((19 * media_id + 31 * (b % 2) + 53 * (b // 2)) % 256
                          AS DOUBLE)), 4) AS mean_g,
           round(avg(CAST((19 * media_id + 31 * (b % 2) + 53 * (b // 2)) % 256
                          AS DOUBLE)), 4) AS mean_b
    FROM px GROUP BY media_id
"""


@register("multimodal_jpeg_progressive", _PJPEG_STATS_ORACLE)
def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG (SOF2) decode, no image library (r14 VERDICT
    directive #1): 8×8-block-constant 16×16 grayscale fixtures are
    entropy-coded executor-side by encode_jpeg_progressive's 10-scan
    spectral-selection + successive-approximation script (interleaved DC
    at Al=1, banded AC first scans at Al=2 with cross-block EOB runs, two
    AC refinement passes, final DC refinement) and decoded back through
    the multi-scan coefficient-accumulation path.  Constant blocks + an
    all-ones quantization table make the lossy codec exact, so the
    generating-formula oracle hash-matches a REAL progressive decode —
    arithmetic/12-bit/lossless SOFs still gate explicitly."""
    media = mm.synth_media(_docs(spark, sf_dir), "pjpeg")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


_FLAC_STATS_ORACLE = """
    WITH s AS (
        SELECT doc_id AS media_id,
               unnest(range(0, (doc_id % 20 + 5) * 80)) AS i
        FROM documents WHERE doc_id < 2000
    )
    SELECT media_id,
           count(*)::BIGINT AS n_samples,
           8000 AS sample_rate,
           round(avg(CAST(((media_id * 31 + 7 * i) % 4096) - 2048
                          AS DOUBLE)), 4) AS mean_amp,
           round(sqrt(avg(CAST((((media_id * 31 + 7 * i) % 4096) - 2048)
                              * (((media_id * 31 + 7 * i) % 4096) - 2048)
                              AS DOUBLE))), 4) AS rms
    FROM s GROUP BY media_id
"""


@register("multimodal_flac_stats", _FLAC_STATS_ORACLE)
def q_multimodal_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode, no audio library (r16 VERDICT directive #8):
    the synth_wav_blob PCM formula is FLAC-encoded executor-side
    (STREAMINFO + CRC-8/CRC-16-stamped frames, rotating auto
    fixed-order / VERBATIM / explicit-LPC / 4-partition-rice subframes
    by id) and decoded back through the full frame walk — rice
    residuals, predictor reconstruction, MD5 verify — into whole-clip
    amplitude stats.  Lossless, so the generating-formula oracle
    hash-matches a REAL entropy-coded FLAC round trip."""
    media = mm.synth_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 2000), "flac"
    )
    return mm.extract_audio_stats(media).select(
        "media_id", "n_samples", "sample_rate", "mean_amp", "rms"
    )


_CMYK_STATS_ORACLE = """
    WITH px AS (
        SELECT doc_id AS media_id, unnest(range(0, 4)) AS b
        FROM documents
    ), pl AS (
        SELECT media_id,
               (23 * media_id + 37 * (b % 2) + 41 * (b // 2)) % 256 AS p1,
               (29 * media_id + 43 * (b % 2) + 47 * (b // 2)) % 256 AS p2,
               (37 * media_id + 53 * (b % 2) + 59 * (b // 2)) % 256 AS p3,
               (31 * media_id + 17 * (b % 2) + 13 * (b // 2)) % 256 AS p4
        FROM px
    ), cmy AS (
        -- even ids: transform 0 (stored planes ARE inverted C'M'Y');
        -- odd ids: transform 2 (YCCK) — BT.601-invert first
        SELECT media_id,
          CASE WHEN media_id % 2 = 0 THEN CAST(p1 AS DOUBLE)
               ELSE least(greatest(p1 + 1.402 * (p3 - 128), 0), 255)
          END AS cy,
          CASE WHEN media_id % 2 = 0 THEN CAST(p2 AS DOUBLE)
               ELSE least(greatest(
                    p1 - 0.344136 * (p2 - 128) - 0.714136 * (p3 - 128),
                    0), 255)
          END AS mg,
          CASE WHEN media_id % 2 = 0 THEN CAST(p3 AS DOUBLE)
               ELSE least(greatest(p1 + 1.772 * (p2 - 128), 0), 255)
          END AS yl,
          CAST(p4 AS DOUBLE) AS k
        FROM pl
    )
    SELECT media_id, 16 AS width, 16 AS height,
           round(avg(round(cy * k / 255.0)), 4) AS mean_r,
           round(avg(round(mg * k / 255.0)), 4) AS mean_g,
           round(avg(round(yl * k / 255.0)), 4) AS mean_b
    FROM cmy GROUP BY media_id
"""


@register("multimodal_jpeg_cmyk", _CMYK_STATS_ORACLE)
def q_multimodal_jpeg_cmyk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4-component Adobe JPEG decode (r16 VERDICT directive #4):
    8×8-block-constant stored planes are entropy-coded executor-side by
    encode_jpeg_cmyk behind a real APP14 segment, alternating transform
    0 (inverted CMYK) and 2 (YCCK) by id parity, then decoded through
    the component-count-agnostic multi-scan path and composited to RGB
    (channel' × K' / 255, YCCK BT.601-inverted first).  Constant
    blocks + q=1 keep the stored planes exact, so the oracle recomputes
    every pixel from the generating formula — a hash match proves APP14
    detection + 4-component MCU interleave + the inverted-ink composite
    end to end."""
    media = mm.synth_media(_docs(spark, sf_dir), "cmyk")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


_VIDEO_FRAMES_ORACLE = """
    WITH f AS (
        SELECT doc_id AS media_id,
               unnest(range(0, (doc_id % 4 + 2 + 1) // 2)) AS s
        FROM documents WHERE doc_id < 2000
    )
    SELECT media_id, s * 2 AS frame_idx, s * 200 AS t_ms,
           16 AS width, 8 AS height,
           round((CAST((11 * media_id + 17 * (s * 2)) % 256 AS DOUBLE)
                + CAST((11 * media_id + 17 * (s * 2) + 23) % 256 AS DOUBLE))
                / 2.0, 4) AS mean_luma
    FROM f
"""


@register("multimodal_video_frames", _VIDEO_FRAMES_ORACLE)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling + decode, no video library (r13 VERDICT
    #1): deterministic MJPEG-AVI blobs ((doc_id mod 4)+2 frames @ 10 fps,
    each frame a 16×8 two-block-constant baseline JPEG) are containerized
    executor-side, then video_frame_stats walks the RIFF chunk list,
    samples the frame under every 200 ms tick and decodes it through the
    baseline-JPEG path.  The oracle recomputes every sampled frame's mean
    luma from the generating formula, so a hash match proves container
    parse + frame pick + JPEG entropy decode end to end."""
    media = mm.synth_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 2000), "mjpeg"
    )
    return mm.video_frame_stats(media, every_ms=200).select(
        "media_id", "frame_idx", "t_ms", "width", "height", "mean_luma"
    )


_VIDEO_DEDUP_ORACLE = """
    WITH f AS (
        SELECT doc_id AS media_id,
               unnest(range(0, (doc_id % 4 + 2 + 1) // 2)) AS s
        FROM documents WHERE doc_id < 2000
    ), fr AS (
        SELECT media_id, (11 * media_id + 17 * (s * 2)) % 256 AS key
        FROM f
    ), g AS (
        SELECT key, count(*)::BIGINT AS n_frames,
               count(DISTINCT media_id)::BIGINT AS n_clips
        FROM fr GROUP BY key
    )
    SELECT n_frames, n_clips, count(*)::BIGINT AS n_groups
    FROM g GROUP BY 1, 2
"""


@register("video_frame_dedup", _VIDEO_DEDUP_ORACLE)
def q_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-clip duplicate-FRAME census through REAL decode: every
    sampled frame of every MJPEG-AVI clip is content-fingerprinted
    (md5 of the decoded RGB buffer — container/entropy-coding
    differences vanish), identical fingerprints group corpus-wide, and
    the census rolls groups up by (n_frames, n_clips).  The fixture's
    frame content is fully determined by (11·id + 17·f) mod 256, so the
    oracle reproduces the exact group partition from the generating
    formula — a hash match proves container parse + JPEG decode +
    fingerprint grouping end to end."""
    media = mm.synth_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 2000), "mjpeg"
    )
    return mm.video_frame_dedup(media, every_ms=200)


@register("multimodal_gif_stats", _PIXEL_STATS_ORACLE)
def q_multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, no image library (r12 verdict directive #4,
    closed the PNG way): the same deterministic 8×6 gradient,
    GIF87a-encoded executor-side (≤48-color global palette + stdlib
    LZW) and decoded back through header walk → LZW → palette lookup →
    numpy stats.  The SAME generating-formula oracle checks it, so a
    value-hash match proves the full GIF container round trip — the
    corpus rotates plain/interlaced layouts (r15: animation and
    interlace decode for real; r16: the compositor too —
    partial-canvas, transparency and disposal 2/3 are un-gated and
    oracle-pinned in gif_frame_dedup; of the codec formats only lossy
    WebP/MP4 still need an external library)."""
    media = mm.synth_media(_docs(spark, sf_dir), "gif")
    return mm.extract_pixel_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


_INCR_ORACLE = """
    WITH tall AS (
        SELECT user_id AS token_id, ts AS timestamp, 'value' AS name,
               'events' AS source, value AS value_number,
               CAST(NULL AS VARCHAR) AS value_string
        FROM events WHERE value IS NOT NULL
        UNION ALL
        SELECT user_id, ts, 'value_pct', 'events', value * 100.0, NULL
        FROM events WHERE value IS NOT NULL
    ),
    existing AS (
        SELECT token_id, timestamp, name FROM tall
        WHERE timestamp < TIMESTAMP '2024-01-20 00:00:00'
    ),
    incoming AS (
        SELECT * FROM tall WHERE timestamp >= TIMESTAMP '2024-01-10 00:00:00'
    )
    SELECT i.token_id, i.timestamp, i.name, i.source, i.value_number, i.value_string
    FROM incoming i
    WHERE NOT EXISTS (
        SELECT 1 FROM existing e
        WHERE e.token_id = i.token_id AND e.timestamp = i.timestamp AND e.name = i.name
    )
"""


@register("incremental_sync", _INCR_ORACLE)
def q_incremental_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — resume semantics as a checkable query: an incoming window that
    deliberately overlaps already-synced data (the reference's boundary
    overlap, sync.go:128-137) emits only the not-yet-synced keys, via the
    key-only anti-join that replaces ReplacingMergeTree absorption."""
    from es_ch_sync_spark.catalog import SignalCatalog, SignalDef

    cat = SignalCatalog(
        [
            SignalDef("value", "value", "number"),
            SignalDef("value_pct", "value", "number", "ratio_to_percent"),
        ]
    )
    e = _events(spark, sf_dir).withColumn("src", F.lit("events"))
    tall = unpivot_signals(e, cat, token_col="user_id", ts_col="ts", source_col="src")
    existing = tall.filter(F.col("timestamp") < F.lit("2024-01-20")).select(
        "token_id", "timestamp", "name"
    )
    incoming = tall.filter(F.col("timestamp") >= F.lit("2024-01-10"))
    return incoming.join(existing, on=["token_id", "timestamp", "name"], how="left_anti")


@register("sync_pipeline", _SYNC_ORACLE)
def q_sync_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship — scan → unpivot → broadcast dim join → dedup, one plan.

    The whole reference job (sync.go:40-160) as a single declarative
    pipeline: Catalyst pushes the dim join's key filter and the unpivot's
    not-null disjunction into the parquet scan.
    """
    e = _events(spark, sf_dir).withColumn("src", F.lit("events"))
    tall = unpivot_signals(e, EVENTS_CATALOG, token_col="user_id", ts_col="ts", source_col="src")
    dim = F.broadcast(
        read_parquet_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("token_id")
        )
    )
    resolved = tall.join(dim, on="token_id", how="inner")
    # dedup on the signal key only: (token_id, timestamp, name) is unique in
    # this source (verified at every SF), so this equals the oracle's 6-col
    # DISTINCT while hashing/comparing 3 narrow columns instead of 6
    # (dedup_signals, the sink's keep-one dedup — see io/sinks.py)
    from es_ch_sync_spark.io.sinks import dedup_signals

    return dedup_signals(resolved, ["token_id", "timestamp", "name"])


@register("dedup_keep_best", oracles.dedup_keep_best_sql(threshold=0.5))
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster, keep the highest-quality member (quality DESC,
    id ASC) — representative selection as one decomposable aggregate."""
    return dd.keep_best_per_cluster(_docs(spark, sf_dir), threshold=0.5)


def _ann_recall_oracle(query_id: int = 0, k: int = 10) -> str:
    exact = oracles.cosine_topk_sql(query_id=query_id, k=k)
    lsh = oracles.lsh_ann_topk_sql(query_id=query_id, k=k)
    ivf = oracles.ann_ivf_topk_sql(query_id=query_id, k=k)
    sq8 = oracles.sq8_topk_sql(query_id=query_id, k=k, rerank=50, dim=64)
    ivfpq = oracles.ivfpq_topk_sql(
        query_id=query_id, k=k, n_cells=4, m=4, ksub=4, iters=2, dim=64
    )
    return f"""
    WITH e AS ({exact}), a AS ({lsh}), i AS ({ivf}),
         s AS ({sq8}), p AS ({ivfpq})
    SELECT 'lsh' AS method,
           (SELECT count(*) FROM a JOIN e USING (vec_id))::DOUBLE / {k} AS recall_at_k
    UNION ALL
    SELECT 'ivf',
           (SELECT count(*) FROM i JOIN e USING (vec_id))::DOUBLE / {k}
    UNION ALL
    SELECT 'sq8',
           (SELECT count(*) FROM s JOIN e USING (vec_id))::DOUBLE / {k}
    UNION ALL
    SELECT 'ivfpq',
           (SELECT count(*) FROM p JOIN e USING (vec_id))::DOUBLE / {k}
    """


@register("ann_recall", _ann_recall_oracle(query_id=0, k=10))
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of ALL FOUR approximate ANN tiers (LSH, IVF, SQ8 rerank,
    IVF-PQ/ADC) against the exact cosine baseline — the standard
    vector-search quality harness, run inside the engine itself (each
    tier is already independently oracle-verified; this checks their
    RELATIVE quality as one number per method).  Deterministic by
    construction: every input is a deterministic top-k."""
    from es_ch_sync_spark.queries_advanced import q_ann_sq8_topk
    from es_ch_sync_spark.queries_relational import q_ann_ivf_topk, q_ann_ivfpq

    k = 10
    exact = sim.cosine_topk(_emb(spark, sf_dir), _query_vec(sf_dir), k=k, exclude_id=0).select("vec_id")
    tiers = {
        "lsh": sim.lsh_ann_topk(
            _emb(spark, sf_dir), _query_vec(sf_dir), k=k, exclude_id=0
        ).select("vec_id"),
        "ivf": q_ann_ivf_topk(spark, sf_dir).select("vec_id"),
        "sq8": q_ann_sq8_topk(spark, sf_dir).select("vec_id"),
        "ivfpq": q_ann_ivfpq(spark, sf_dir).select("vec_id"),
    }
    out = None
    for name, approx in tiers.items():
        r = approx.join(exact, "vec_id").agg(
            (F.count(F.lit(1)).cast("double") / k).alias("recall_at_k")
        ).select(F.lit(name).alias("method"), "recall_at_k")
        out = r if out is None else out.unionByName(r)
    return out


def _dedup_degrees_oracle(threshold: float = 0.5) -> str:
    pairs = oracles.minhash_near_dup_sql(threshold=threshold)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    deg AS (
        SELECT id, count(*) AS degree FROM (
            SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
        ) GROUP BY id
    )
    SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
    """


@register("dedup_graph_degrees", _dedup_degrees_oracle(threshold=0.5))
def q_dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup similarity graph — the corpus-
    health dashboard number (how interconnected is the duplicate mass?).
    Derived entirely from the verified pair table: union both endpoints,
    two small aggregates; the pair table is already linear in true-dup
    density, so this adds only |pairs|-scale work."""
    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    ends = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def _corpus_mixture_oracle() -> str:
    ta = oracles.text_analysis_sql()
    return f"""
    WITH ta AS ({ta}),
    j AS (
        SELECT d.source, ta.lang_pred, ta.n_tokens_ws
        FROM documents d JOIN ta ON d.doc_id = ta.doc_id
    ),
    tot AS (SELECT sum(n_tokens_ws)::BIGINT AS total FROM j)
    SELECT source, lang_pred,
           count(*) AS n_docs,
           sum(n_tokens_ws)::BIGINT AS n_tokens,
           round(sum(n_tokens_ws)::DOUBLE / (SELECT total FROM tot), 6) AS token_share
    FROM j GROUP BY source, lang_pred
    """


@register("corpus_mixture", _corpus_mixture_oracle())
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing report: per (source, predicted language) doc and
    token counts plus each cell's share of total tokens — what a
    pretraining-mixture dashboard reads.  One aggregate over the scored
    scan + a 1-row broadcast total; integer token arithmetic, share
    rounded once."""
    from es_ch_sync_spark.operators.text import lang_id, token_count_ws

    docs = _docs(spark, sf_dir)
    j = docs.select(
        "source",
        lang_id(F.col("text")).alias("lang_pred"),
        token_count_ws(F.col("text")).cast("long").alias("n_tokens_ws"),
    )
    cells = j.groupBy("source", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_ws").alias("n_tokens"),
    )
    tot = cells.agg(F.sum("n_tokens").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang_pred",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("total"), 6).alias("token_share"),
    )


@register(
    "media_dedup",
    """
    SELECT md5(text) AS content_md5,
           min(doc_id) AS keep_id,
           count(*) AS n_copies,
           min(strlen(text))::BIGINT AS n_bytes
    FROM documents GROUP BY 1
    """,
)
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical media dedup: checksum every blob through the
    map_blobs feature extractor, then group on content_md5 — the
    dedup-images-by-checksum pass every multimodal pipeline runs first.
    Only (md5, id, n_bytes) shuffles; blobs never leave their scan
    partitions (same discipline as text dedup_exact)."""
    from es_ch_sync_spark.operators.multimodal import extract_features, media_from_documents

    media = media_from_documents(_docs(spark, sf_dir))
    feats = extract_features(media)
    return feats.groupBy("content_md5").agg(
        F.min("media_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_bytes").alias("n_bytes"),
    )


def _pagerank_oracle(threshold: float = 0.5, iterations: int = 2, damping: float = 0.85) -> str:
    pairs = oracles.minhash_near_dup_sql(threshold=threshold)
    prev = "p0"
    iters_sql = ""
    for it in range(1, iterations + 1):
        iters_sql += f"""
    , p{it} AS MATERIALIZED (
        SELECT e.dst AS id,
               round(({1.0 - damping!r} / (SELECT n FROM nn))
                     + {damping!r} * sum(round(p.p / deg.d, 12)::DECIMAL(28,12))::DOUBLE,
                     12) AS p
        FROM edges e
        JOIN {prev} p ON e.src = p.id
        JOIN deg ON e.src = deg.id
        GROUP BY e.dst
    )"""
        prev = f"p{it}"
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM edges GROUP BY src),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
    p0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS p FROM deg)
    {iters_sql}
    SELECT id AS doc_id, p AS pagerank FROM {prev}
    """


@register("pagerank_dedup_graph", _pagerank_oracle(threshold=0.5, iterations=2))
def q_pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration PageRank over the near-dup graph — iterative graph
    algorithm beyond connected components, deterministic via
    round-then-DECIMAL-sum per iteration (unrolled CTE oracle)."""
    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return dd.pagerank(pairs, iterations=2)


def _assign_shards_oracle(shard_tokens: int = 20_000, seed: str = "shard") -> str:
    from es_ch_sync_spark.operators.sampling import GLOBAL_SHUFFLE_BUCKETS

    b = oracles._hash_bucket_sql("d.doc_id", seed + "-b")
    return f"""
    WITH ta AS ({oracles.text_analysis_sql()}),
    r AS (
        SELECT d.doc_id,
               md5('{seed}:' || d.doc_id::VARCHAR) AS h,
               ({b}) % {GLOBAL_SHUFFLE_BUCKETS} AS bucket,
               ta.n_tokens_ws::BIGINT AS n_tokens
        FROM documents d JOIN ta ON d.doc_id = ta.doc_id
    )
    SELECT doc_id, n_tokens, start_offset, start_offset // {shard_tokens} AS shard FROM (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   ORDER BY bucket ASC, h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                   AS start_offset
        FROM r
    )
    """


@register("assign_shards", _assign_shards_oracle(shard_tokens=20_000))
def q_assign_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced global shard layout in shuffle order — two-phase
    bucketed cumsum, no single-partition window; the oracle states it as
    one window over the composite order."""
    from es_ch_sync_spark.operators.sampling import assign_shards

    return assign_shards(_docs(spark, sf_dir), shard_tokens=20_000)


def _containment_oracle(k: int = 3, threshold: float = 0.5) -> str:
    return f"""
    {oracles._shingles_cte(k)}
    , e AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
           round(inter::DOUBLE / least(sa.n, sb.n)::DOUBLE, 6) AS containment
    FROM inter
    JOIN (SELECT doc_id, len(shs) AS n FROM sh) sa ON id_a = sa.doc_id
    JOIN (SELECT doc_id, len(shs) AS n FROM sh) sb ON id_b = sb.doc_id
    WHERE round(inter::DOUBLE / least(sa.n, sb.n)::DOUBLE, 6) >= {threshold}
    """


@register("containment_pairs", _containment_oracle(k=3, threshold=0.5))
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment ≥ 0.5 (quote-inclusion
    gate) — catches short-inside-long duplication Jaccard misses."""
    return dd.containment_pairs(_docs(spark, sf_dir), shingle_k=3, threshold=0.5)


def _top_passages_oracle(k_gram: int = 5, topk: int = 20) -> str:
    return f"""
    {oracles._shingles_cte(k_gram)}
    , e AS (SELECT doc_id, unnest(shs) AS gram FROM sh)
    SELECT gram, count(*) AS n_docs
    FROM e GROUP BY gram HAVING count(*) >= 2
    ORDER BY n_docs DESC, gram ASC
    LIMIT {topk}
    """


@register("top_dup_passages", _top_passages_oracle(k_gram=5, topk=20))
def q_top_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-duplicated 5-gram passages across the corpus (dedup audit
    report) — doc-frequency ranked, TakeOrderedAndProject top-20."""
    return dd.top_duplicated_passages(_docs(spark, sf_dir), shingle_k=5, k=20)


@register("corpus_pipeline_best", oracles.corpus_pipeline_best_sql(threshold=0.5))
def q_corpus_pipeline_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline with the keep-BEST policy: exact-dedup keep-one
    → minhash clusters over survivors → drop every cluster member except
    its highest-quality doc → append-stable split assignment.  Checks the
    quality-representative policy composed end to end (corpus_pipeline
    keeps min-id instead)."""
    from pyspark.sql import Window as W

    from es_ch_sync_spark.operators.sampling import assign_split
    from es_ch_sync_spark.operators.text import quality_score

    docs = _docs(spark, sf_dir)
    kept = dd.dedup_exact(docs)
    pairs = dd.minhash_near_duplicates(kept, threshold=0.5)
    clusters = dd.connected_components(pairs)
    scored = kept.select(F.col("doc_id"), quality_score(F.col("text")).alias("quality"))
    ranked = clusters.join(scored, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        ),
    )
    nonreps = ranked.filter(F.col("rn") > 1).select("doc_id")
    survivors = kept.join(nonreps, "doc_id", "left_anti")
    return assign_split(survivors).select("doc_id", "split")


def _dedup_recall_oracle(threshold: float = 0.5) -> str:
    exact = oracles.ngram_jaccard_sql(k=3, threshold=0.0)
    lsh = oracles.minhash_near_dup_sql(threshold=threshold)
    return f"""
    WITH ex0 AS MATERIALIZED ({exact}),
    ex AS MATERIALIZED (SELECT id_a, id_b FROM ex0 WHERE jaccard >= {threshold}),
    ap AS MATERIALIZED ({lsh})
    SELECT (SELECT count(*) FROM ex) AS n_exact,
           (SELECT count(*) FROM ap JOIN ex USING (id_a, id_b)) AS n_found,
           round((SELECT count(*) FROM ap JOIN ex USING (id_a, id_b))::DOUBLE
                 / (SELECT count(*) FROM ex), 6) AS recall
    """


@register("dedup_recall", _dedup_recall_oracle(threshold=0.5))
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash+LSH near-dup pairs against the exact shingle-
    Jaccard ground truth (same shingles, same threshold) — the dedup
    analog of ann_recall: the engine measures its own banding quality.
    The exact side is the O(n²)-bounded verification tier; run at audit
    scale, not corpus scale.

    Shared shingle pass (r10 verdict directive #4 — this was the one
    registered query shingling the corpus twice): ONE materialized
    (doc_id, s) shingle stream feeds (a) the exact all-pairs equi-join
    AND the per-doc sizes (shingles are per-doc distinct, so a keyed
    count IS the set size), and (b) the minhash signatures via
    minhash_from_stream.  The minhash side needs no separate verify
    scan either: candidate pairs intersect the exact-side ≥threshold
    set, which IS the verified-jaccard predicate."""
    th = 0.5
    e = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(dd.word_shingles(F.col("text"), 3)).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    exact = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= th)
        .select("id_a", "id_b")
    )
    mh = dd.minhash_from_stream(e)
    buckets = dd.lsh_buckets_from_signatures(mh)
    cand = dd.lsh_candidate_pairs_from_buckets(buckets)
    n_exact = exact.count()
    found = cand.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return found.select(
        F.lit(n_exact).alias("n_exact"),
        "n_found",
        F.round(F.col("n_found").cast("double") / n_exact, 6).alias("recall"),
    )


@register(
    "es_sink_roundtrip",
    """
    SELECT event_type, count(*) AS n,
           sum(value::DECIMAL(12,2))::DOUBLE AS v_sum
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY event_type
    """,
)
def q_es_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 through the full connector loop: events go OUT through the
    es_status DataSource writer (task-temp NDJSON + rename + O_EXCL
    manifest = job-level atomic visibility, the PrepareBatch/Send analog
    of clickhouse.go:113-130) and come BACK IN through the pushdown
    reader; the aggregate over the round-tripped rows must equal the
    oracle's aggregate over the original table — any row lost, doubled,
    or type-mangled by the sink breaks the hash."""
    import tempfile
    import uuid

    from es_ch_sync_spark.io.es_datasource import read_es_status, write_es_status

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    out = tempfile.mkdtemp(prefix=f"es_sink_{uuid.uuid4().hex[:8]}_")
    write_es_status(
        ev.select(
            F.col("event_id").cast("string").alias("es_id"),
            F.col("event_type"),
            F.col("value"),
        ),
        out,
        mode="overwrite",
        index="events",
    )
    back = read_es_status(
        spark, out, schema="es_id string, event_type string, value double"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("v_sum"),
    )


@register(
    "es_status_agg_pushdown",
    "SELECT min(ts) AS min_time FROM events",
)
def q_es_status_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown at the connector boundary (r4 stretch #9,
    mirroring the reference pushing GetOldestTimestamp down to the store,
    clickhouse.go:65-110): events are exported through the es_status
    writer with time stats recorded per file; min(time) is then answered
    from the manifest ALONE — the query asserts zero data files were
    scanned (local 1-row relation) and the oracle proves the stats-only
    answer equals a real min over the source table."""
    import tempfile
    import uuid

    from es_ch_sync_spark.io.es_datasource import (
        manifest_min_max,
        read_es_status_agg,
        write_es_status,
    )
    from pyspark.sql import types as T

    ev = _events(spark, sf_dir)
    out = tempfile.mkdtemp(prefix=f"es_agg_{uuid.uuid4().hex[:8]}_")
    write_es_status(
        ev.select(
            F.col("event_id").cast("string").alias("es_id"),
            F.col("ts").alias("time"),
        ),
        out,
        mode="overwrite",
        index="events",
        statscolumns="time",
    )
    assert (
        manifest_min_max(out, "time", T.TimestampType()) is not None
    ), "manifest stats must fully cover the export"
    df = read_es_status_agg(
        spark, out, "time", agg="min", schema="es_id string, time timestamp"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "PythonDataSource" not in plan, plan
    return df.select(F.col("min_time"))


@register(
    "es_status_grouped_agg_pushdown",
    """
    SELECT 'events_even' AS es_index, min(ts) AS min_time,
           count(*) AS n_rows
    FROM events WHERE user_id % 2 = 0
    """,
)
def q_es_status_grouped_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FILTERED oldest-signal shape (QueryOldestSignal
    with a name filter: min(timestamp) WHERE token_id = ? AND name IN
    (...), clickhouse.go:65-88) at connector level: events exported under
    two ES indexes, then min(time) + exact row count for ONE index
    answered from the manifest ALONE — every export file is single-valued
    on es_index (recorded as an exact [v, v] stat by the writer), so
    min-of-mins within the group IS the group minimum, and per-file
    counts sum to the group count.  The plan assertion pins the
    stats-only path: a local relation, zero files opened."""
    import tempfile
    import uuid

    from es_ch_sync_spark.io.es_datasource import (
        read_es_status_agg_grouped,
        write_es_status,
    )

    ev = _events(spark, sf_dir)
    out = tempfile.mkdtemp(prefix=f"es_gagg_{uuid.uuid4().hex[:8]}_")
    base = ev.select(
        F.col("event_id").cast("string").alias("es_id"),
        F.col("user_id"),
        F.col("ts").alias("time"),
    )
    write_es_status(
        base.filter(F.col("user_id") % 2 == 0).drop("user_id"),
        out, mode="overwrite", index="events_even", statscolumns="time",
    )
    write_es_status(
        base.filter(F.col("user_id") % 2 == 1).drop("user_id"),
        out, mode="append", index="events_odd", statscolumns="time",
    )
    df = read_es_status_agg_grouped(
        spark, out, "time", agg="min",
        groups=["events_even"],
        schema="es_id string, es_index string, time timestamp",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "PythonDataSource" not in plan, plan
    return df.select("es_index", "min_time", "n_rows")


@register(
    "es_status_stream_scan",
    """
    SELECT CAST(event_id AS VARCHAR) AS es_id,
           CAST(user_id AS VARCHAR) AS subject,
           ts, event_type, value
    FROM events
    WHERE event_type IN ('purchase', 'view')
    """,
)
def q_es_status_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The es_status connector's STREAMING path (io/es_datasource.py::
    EsStatusStreamReader): micro-batch consumption of the export dir
    through readStream.format("es_status"), drained AvailableNow — the
    reference's continuous poll loop (internal/app/sync.go) as a
    Structured Streaming source with checkpointable file offsets.
    Parsing is the same delegate as the batch reader, and this query
    proves it against the parquet-table oracle."""
    from es_ch_sync_spark.io.es_datasource import read_es_status_stream
    from es_ch_sync_spark.queries_relational import _drain_to_memory

    path = _es_export_dir(spark, sf_dir)
    stream = read_es_status_stream(
        spark,
        path,
        "es_id string, subject string, ts timestamp, event_type string, value double",
    )
    return _drain_to_memory(
        stream.filter(F.col("event_type").isin("purchase", "view")), "append"
    )


@register(
    "es_stream_roundtrip",
    """
    SELECT event_type, count(*) AS n,
           sum(value::DECIMAL(12,2))::DOUBLE AS v_sum
    FROM events
    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    GROUP BY event_type
    """,
)
def q_es_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-sync loop through the connector on BOTH ends:
    readStream es_status (file-offset micro-batches) → writeStream
    es_status (epoch-committed exactly-once sink) → batch read-back.
    The aggregate over the round-tripped rows must equal the table
    oracle — a row lost to offset tracking or doubled by an epoch
    replay breaks the hash."""
    import tempfile
    import uuid

    from es_ch_sync_spark.io.es_datasource import (
        read_es_status,
        read_es_status_stream,
    )

    src = _es_export_dir(spark, sf_dir)
    tag = uuid.uuid4().hex[:8]
    out = tempfile.mkdtemp(prefix=f"es_stream_sink_{tag}_")
    ckpt = tempfile.mkdtemp(prefix=f"es_stream_ck_{tag}_")
    stream = read_es_status_stream(
        spark,
        src,
        "es_id string, event_type string, value double",
    ).filter(F.col("event_type").isin("purchase", "view") & F.col("value").isNotNull())
    q = (
        stream.writeStream.format("es_status")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    from es_ch_sync_spark.streaming.util import drain

    drain(q, 300)
    back = read_es_status(
        spark, out, schema="es_id string, event_type string, value double"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("v_sum"),
    )


def _bfs_oracle(threshold: float = 0.5, max_depth: int = 5) -> str:
    pairs = oracles.minhash_near_dup_sql(threshold=threshold)
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    seed AS (SELECT min(src) AS s FROM edges),
    walk AS (
        SELECT s AS id, 0 AS depth FROM seed
        UNION
        SELECT e.dst, w.depth + 1
        FROM walk w JOIN edges e ON e.src = w.id
        WHERE w.depth < {max_depth}
    )
    SELECT id AS doc_id, min(depth)::INT AS depth
    FROM walk GROUP BY id ORDER BY depth, doc_id
    """


@register("graph_bfs_depths", _bfs_oracle(threshold=0.5, max_depth=5))
def q_graph_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS from the smallest node of the near-dup graph — hop
    distance for impact analysis ("everything within 5 edits of this
    document").  The Spark side is the Pregel-lite driver loop
    (frontier ⋈ edges per round, localCheckpoint'd so lineage stays
    O(1)); the oracle is the equivalent SQL WITH RECURSIVE with
    min-depth semantics — the iterative-vs-recursive parity check next
    to pagerank's unrolled CTE."""
    from es_ch_sync_spark.operators.graph import bfs_depths

    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return (
        bfs_depths(pairs, max_depth=5)
        .select(F.col("id").alias("doc_id"), F.col("depth"))
        .orderBy("depth", "doc_id")
    )


_WAV_FEATURES_ORACLE = """
    WITH s AS (
        SELECT doc_id AS media_id, (doc_id % 20 + 5) * 80 AS n,
               unnest(range(0, (doc_id % 20 + 5) * 80)) AS i
        FROM documents WHERE doc_id < 2000
    ),
    v AS (
        SELECT media_id, i, i // 800 AS chunk_idx,
               ((media_id * 31 + 7 * i) % 4096) - 2048 AS v,
               CASE WHEN i % 800 > 0
                    THEN ((media_id * 31 + 7 * (i - 1)) % 4096) - 2048
               END AS vp
        FROM s
    )
    SELECT media_id, chunk_idx::INT AS chunk_idx, count(*)::INT AS n_samples,
           sum(CASE WHEN vp IS NOT NULL AND vp * v < 0
                    THEN 1 ELSE 0 END)::INT AS zcr,
           max(abs(v))::INT AS peak
    FROM v GROUP BY 1, 2
"""


@register("multimodal_wav_features", _WAV_FEATURES_ORACLE)
def q_multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing rate + peak amplitude per 100 ms WAV chunk — the
    voiced/unvoiced + clipping screen next to multimodal_wav_rms, and the
    first multimodal check that is hash-exact with ZERO float rounding
    (both features are pure integers over the decoded int16 stream).
    Same real RIFF decode, same map_blobs boundary; the oracle
    recomputes both from the generating formula."""
    media = mm.synth_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 2000), "audio"
    )
    return mm.chunk_wav_features(media, chunk_ms=100).select(
        "media_id", "chunk_idx", "n_samples", "zcr", "peak"
    )


@register(
    "minhash_calibration",
    f"""
    {oracles._minhash_buckets_sql(8, 4, 3)}
    , cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    v AS (
        SELECT
            ({" + ".join(
                f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END"
                for i in range(8)
            )})::BIGINT AS est_matches,
            len(list_filter(x.shs, s -> list_contains(y.shs, s)))::BIGINT
                AS inter,
            len(x.shs)::BIGINT AS na, len(y.shs)::BIGINT AS nb
        FROM cand c JOIN mh x ON c.id_a = x.doc_id
        JOIN mh y ON c.id_b = y.doc_id
    )
    SELECT est_matches,
           least(floor(round(inter::DOUBLE / (na + nb - inter)::DOUBLE, 6)
                       * 10), 9)::INT AS jac_decile,
           count(*)::BIGINT AS n_pairs
    FROM v GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-estimator calibration census over the engine's own LSH
    candidates: (matching signature components, exact-Jaccard decile,
    n_pairs) — the signature-quality audit next to dedup_recall's
    banding-recall audit; E[matches/H] = J, so mass should hug the
    diagonal.  One signature pass feeds buckets AND the comparison."""
    return dd.minhash_estimator_calibration(_docs(spark, sf_dir))
