"""``es_status`` — a Spark 4 Python DataSource for Elasticsearch status
exports, with real filter + projection pushdown and no JVM connector jars.

The reference hands Elasticsearch a filtered, sorted, limited scan over the
status index (/root/reference/internal/service/elastic/elastic.go:46-108):
subject equality, time range [start, stop), existence disjunction — ES
evaluates the predicates, the client only sees matching documents.  This
module reproduces that *pushdown boundary* with the public
``pyspark.sql.datasource`` API (Spark 4.1):

- **filter pushdown** via ``DataSourceReader.pushFilters``: equality,
  range, IN, and is-not-null predicates on top-level columns are applied
  INSIDE the source (Arrow compute over the parsed batch, before rows
  reach Spark) — the exact predicate set elastic.go builds into its bool
  query.  Unsupported shapes are yielded back and Spark evaluates them
  post-scan, so semantics never depend on what the source handles;
  comparisons on float columns are among them, because Arrow compares
  NaN false where Spark orders it above every value.
- **projection pushdown** via the declared read schema: the Python DS API
  has no column-prune hook yet, so projection rides on the schema the
  caller declares (``read_es_status(..., schema=...)``) — the Arrow JSON
  parser materializes ONLY declared ``_source`` fields
  (``unexpected_field_behavior="ignore"``), which is byte-level projection
  at parse time, the same economics as ES ``_source`` filtering.
- **split planning**: one input partition per export file — an index dump
  is many scroll-page files, so partition parallelism is file parallelism;
  at 100 TB the same reader runs unchanged with files on a shared FS.

Data shape: the elasticdump / scroll-export NDJSON hit format (one JSON
hit per line, document under ``_source``, ``_id``/``_index`` alongside) —
the same shape io/sources.py:read_es_hits reads with the JVM JSON
reader.  Malformed lines are skipped per-line (the reference's log-drop-
continue, sync.go:192-204); a wholly unparseable file falls back from the
vectorized Arrow parser to line-wise parsing rather than failing the scan.

API gotcha, enforced by ``read_es_status``: Spark caches the reader
instance inside a loaded DataFrame, so pushed-filter state STICKS to that
frame — executing a filtered query and then reusing the same loaded frame
for a different query would silently re-apply the first query's pushed
filters.  ``read_es_status`` therefore performs a fresh ``load()`` per
call (planning-only cost), and ``pushFilters`` uses assignment (not
append) semantics so re-planning a frame never accumulates stale
predicates.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

FORMAT_NAME = "es_status"

# Default read schema: the reference's status-document surface (envelope +
# the 18-signal payload the catalog converts; fixtures.DEVICE_STATUS_SCHEMA
# minus the fixture-only is_malformed flag) wrapped in export metadata.
DEFAULT_STATUS_DDL = (
    "es_id string, es_index string, subject string, id string, source string, "
    "specversion string, type string, dataschema string, time timestamp, "
    "data_speed bigint, data_engineSpeed double, data_fuelPercentRemaining double, "
    "data_odometer double, data_coolantTemp bigint, data_ambientTemp double, "
    "data_batteryVoltage double, data_soc double, data_latitude double, "
    "data_longitude double, data_altitude double, data_nsat bigint, "
    "data_runTime bigint, data_throttlePosition double, data_engineLoad double, "
    "data_make string, data_model string, data_year bigint"
)

_PUSHABLE = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNotNull,
    StringStartsWith,
)

_INTEGRAL_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
_FLOAT_TYPES = (T.DoubleType, T.FloatType)


def _arrow_type(dt: T.DataType) -> "pa.DataType":
    import pyarrow as pa

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    raise TypeError(f"es_status: unsupported column type {dt.simpleString()}")


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class EsStatusReader(DataSourceReader):
    """One reader instance per scan; ``pushed`` is scan-local state set by
    pushFilters (see the module docstring for the reuse gotcha)."""

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.spark_schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("es_status requires .option('path', <file-or-dir>)")
        self.pushed: list[Filter] = []

    # -- pushdown ---------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        dtypes = {f.name: f.dataType for f in self.spark_schema.fields}
        pushed = []
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if (
                isinstance(flt, _PUSHABLE)
                and attr is not None
                and len(attr) == 1
                and attr[0] in dtypes
                # Spark orders NaN above every value and NaN = NaN; Arrow
                # compares NaN false both ways, so float comparisons stay
                # with Spark
                and not (
                    isinstance(dtypes[attr[0]], _FLOAT_TYPES)
                    and not isinstance(flt, IsNotNull)
                )
            ):
                pushed.append(flt)
            else:
                yield flt  # Spark evaluates post-scan
        # assignment, NOT append: re-planning must replace, never accumulate
        self.pushed = pushed

    # -- split planning ---------------------------------------------------
    def partitions(self) -> list[InputPartition]:
        import os

        if os.path.isdir(self.path):
            # skip _/.-prefixed names (Hadoop convention): in-flight task
            # temps (_tmp_*.ndjson) and manifests must never become splits
            files = sorted(
                os.path.join(self.path, p)
                for p in os.listdir(self.path)
                if p.endswith((".json", ".jsonl", ".ndjson"))
                and not p.startswith(("_", "."))
            )
        else:
            files = [self.path]
        if not files:
            raise ValueError(f"es_status: no export files under {self.path}")
        files = self._prune_by_stats(files)
        return [_FilePartition(p) for p in files]

    def _prune_by_stats(self, files: list[str]) -> list[str]:
        """File-level skip from manifest min/max stats — the connector
        analog of ES shard routing / parquet row-group pruning: the
        WRITER records per-file [min, max] of its stats columns in the
        manifest; if a pushed predicate on such a column cannot match a
        file's range, the file never becomes a partition.

        Conservative by construction: files without recorded stats (hand
        -written exports, older writers) are always read, and only
        predicate shapes with obvious range semantics prune (equality,
        </<=/>/>=, IN).  Comparison is TYPED, keyed on the declared
        column type (ADVICE r4: lexicographic string compare is the
        wrong order for numbers — '20' > '150' — and a naive pushed
        timestamp literal never string-equals the writer's tz-aware
        isoformat): recorded strings and pushed literals are both
        decoded to native values first (int/Decimal/float for numerics,
        UTC-canonicalized datetimes for timestamps, plain str for
        strings), and any value either side fails to decode disables
        pruning for that predicate rather than risking a wrong skip."""
        import json
        import os

        mpath = os.path.join(
            self.path if os.path.isdir(self.path) else os.path.dirname(self.path),
            "_ES_COMMIT",
        )
        if not self.pushed or not os.path.exists(mpath):
            return files
        try:
            with open(mpath) as f:
                stats = json.load(f).get("stats", {})
        except (OSError, ValueError):
            return files
        if not stats:
            return files
        dtypes = {f.name: f.dataType for f in self.spark_schema.fields}

        def may_match(fname: str) -> bool:
            fstats = stats.get(os.path.basename(fname))
            if not fstats:
                return True
            for flt in self.pushed:
                attr = getattr(flt, "attribute", None)
                if attr is None or len(attr) != 1 or attr[0] not in fstats:
                    continue
                dt = dtypes.get(attr[0])
                if dt is None:
                    continue
                lo, hi = _typed_bounds(dt, fstats[attr[0]])
                if lo is None or hi is None:
                    continue
                if isinstance(flt, EqualTo):
                    v = _typed_literal(dt, flt.value)
                    if v is not None and (v < lo or v > hi):
                        return False
                elif isinstance(flt, In):
                    vs = [_typed_literal(dt, v) for v in flt.values]
                    if all(v is not None for v in vs) and all(
                        v < lo or v > hi for v in vs
                    ):
                        return False
                elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
                    v = _typed_literal(dt, flt.value)
                    if v is not None and v > hi:
                        return False
                elif isinstance(flt, (LessThan, LessThanOrEqual)):
                    v = _typed_literal(dt, flt.value)
                    if v is not None and v < lo:
                        return False
            return True

        return [f for f in files if may_match(f)]

    # -- read -------------------------------------------------------------
    def _parse_schema(self) -> "pa.Schema":
        """Arrow schema for the hit envelope with _source restricted to the
        DECLARED fields — undeclared payload fields are never materialized
        (projection pushdown at parse time)."""
        import pyarrow as pa

        src_fields = [
            pa.field(f.name, _arrow_type(f.dataType))
            for f in self.spark_schema.fields
            if f.name not in ("es_id", "es_index")
        ]
        return pa.schema(
            [
                pa.field("_id", pa.string()),
                pa.field("_index", pa.string()),
                pa.field("_source", pa.struct(src_fields)),
            ]
        )

    def _parse_file(self, path: str) -> "pa.Table":
        import pyarrow.json as pj

        opts = pj.ParseOptions(
            explicit_schema=self._parse_schema(), unexpected_field_behavior="ignore"
        )
        try:
            return pj.read_json(path, parse_options=opts)
        except Exception:  # noqa: BLE001 — fall back to line-wise skip-bad
            return self._parse_lines(path, opts)

    def _parse_lines(self, path: str, opts) -> "pa.Table":
        """Line-wise fallback: parse each hit alone, skip malformed lines —
        the reference's per-record error isolation (sync.go:192-204)."""
        import io

        import pyarrow as pa
        import pyarrow.json as pj

        good: list[pa.Table] = []
        with open(path, "rb") as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    good.append(pj.read_json(io.BytesIO(line), parse_options=opts))
                except Exception:  # noqa: BLE001 — quarantine-by-skip
                    continue
        if not good:
            return self._parse_schema().empty_table()
        return pa.concat_tables(good)

    def _apply_pushed(self, flat: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        mask = None
        for flt in self.pushed:
            col = pc.field(flt.attribute[0])
            if isinstance(flt, EqualTo):
                e = col == flt.value
            elif isinstance(flt, GreaterThan):
                e = col > flt.value
            elif isinstance(flt, GreaterThanOrEqual):
                e = col >= flt.value
            elif isinstance(flt, LessThan):
                e = col < flt.value
            elif isinstance(flt, LessThanOrEqual):
                e = col <= flt.value
            elif isinstance(flt, In):
                e = col.isin(list(flt.value))
            elif isinstance(flt, IsNotNull):
                e = ~col.is_null()
            elif isinstance(flt, StringStartsWith):
                import pyarrow.compute as _pc

                e = _pc.starts_with(col, flt.value)
            else:  # pragma: no cover — pushFilters only admits _PUSHABLE
                continue
            mask = e if mask is None else (mask & e)
        return flat.filter(mask) if mask is not None else flat

    def read(self, partition: InputPartition | None) -> Iterator:
        import pyarrow as pa

        if partition is None:
            return  # partitions() pruned every file; Spark still plans one task
        tbl = self._parse_file(partition.path)
        if tbl.num_rows == 0:
            return
        src = tbl.column("_source").combine_chunks()
        cols = {}
        for f in self.spark_schema.fields:
            if f.name == "es_id":
                cols[f.name] = tbl.column("_id").combine_chunks()
            elif f.name == "es_index":
                cols[f.name] = tbl.column("_index").combine_chunks()
            else:
                cols[f.name] = src.field(f.name)
        flat = pa.table(cols).cast(
            pa.schema(
                [pa.field(f.name, _arrow_type(f.dataType)) for f in self.spark_schema.fields]
            )
        )
        yield from self._apply_pushed(flat).to_batches()


class EsStatusStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over an append-only ES export directory —
    the continuous-sync analog of the reference's poll loop (the sync job
    repeatedly asks ES for documents after its watermark,
    internal/app/sync.go): each micro-batch consumes the export files
    that arrived since the last committed offset.

    Offset model: ``{"seen": [<consumed file names>]}`` — the consumed-
    file SET, the same design as Spark's own FileStreamSource.  An
    earlier revision used a single greatest-name watermark, which
    silently skipped any late file sorting below it — a contract this
    framework's OWN writers violate (part-<pid>-<uuid>.ndjson names are
    not monotonic; ADVICE r4).  With the set, arrival order and naming
    are irrelevant: a micro-batch is exactly (files now listed) minus
    (files in the committed offset).  Old ``{"last": ...}`` checkpoints
    are still honored: a legacy start offset is expanded to "every file
    sorting at or below the watermark" — the files that offset model had
    actually consumed.

    Offset size: one name per consumed file, stored in the checkpoint
    log.  That is the honest price of not losing late files; bound it
    with ``option("maxFileAgeSec", N)`` the way FileStreamSource's
    maxFileAge does: files whose mtime falls behind the (monotonic)
    ``now - N`` horizon are aged out of the offset AND out of the
    listing universe in the same offset, so a consumed-then-aged name
    can never be mistaken for a new file (mtime is immutable and the
    horizon only advances → once excluded, always excluded;
    deterministic replay is untouched because partitions() still derives
    purely from the two offsets).  Like FileStreamSource, a file that
    first appears already older than the horizon is IGNORED — retention
    trades that documented edge for O(retention-window) instead of
    O(lifetime) offset entries.  Unset (the default) keeps the unbounded
    exact set: with 128 MB export files, 100 TB is ~800k names ≈ tens of
    MB, well within checkpoint-log scale.

    Each new file is one input partition (same split planning as the
    batch reader); parsing is delegated to EsStatusReader, so the
    NDJSON→Arrow path (projection at parse time, per-line malformed-row
    drop, vectorized-then-linewise fallback) is byte-identical between
    batch and streaming.  No filter pushdown in the stream path — Spark
    4's Python DS API only wires pushFilters into batch scans; stream
    predicates are evaluated post-scan, semantics unchanged."""

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self._delegate = EsStatusReader(schema, options)
        self.path = self._delegate.path
        self._max_age = float(options.get("maxfileagesec", "0") or "0")
        self._horizon = 0.0  # monotonic; only meaningful with retention

    def _files(self) -> list[str]:
        import os

        if os.path.isdir(self.path):
            return sorted(
                p
                for p in os.listdir(self.path)
                if p.endswith((".json", ".jsonl", ".ndjson"))
                and not p.startswith(("_", "."))
            )
        return [os.path.basename(self.path)]

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        files = self._files()
        if self._max_age <= 0:
            return {"seen": files}
        import os
        import time

        # the horizon never retreats: a wall-clock step backwards must not
        # resurrect names already aged out of an earlier offset
        self._horizon = max(self._horizon, time.time() - self._max_age)
        base = self.path if os.path.isdir(self.path) else os.path.dirname(self.path)
        kept = []
        for f in files:
            try:
                if os.path.getmtime(os.path.join(base, f)) >= self._horizon:
                    kept.append(f)
            except OSError:
                continue  # listed then deleted: treat as aged out
        return {"seen": kept, "horizon": self._horizon}

    @staticmethod
    def _seen(offset: dict, universe: list[str]) -> set:
        """Consumed set for an offset: native form, or the legacy
        greatest-name watermark expanded against the given universe."""
        if "seen" in offset:
            return set(offset["seen"])
        last = offset.get("last", "")
        return {f for f in universe if f <= last}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        import os

        # horizon monotonicity must survive RESTARTS, not just live in
        # self._horizon (ADVICE r6): re-seed it from whatever the engine
        # hands back out of the checkpoint, so a wall-clock step backwards
        # across a restart cannot lower the effective horizon.
        start_h = float(start.get("horizon", 0.0) or 0.0)
        end_h = float(end.get("horizon", 0.0) or 0.0)
        self._horizon = max(self._horizon, start_h, end_h)
        # deterministic replay: derive everything from the two offsets —
        # the live listing is only consulted to expand a LEGACY watermark
        end_files = (
            list(end["seen"]) if "seen" in end
            else [f for f in self._files() if f <= end.get("last", "")]
        )
        consumed = self._seen(start, end_files)
        base = self.path if os.path.isdir(self.path) else os.path.dirname(self.path)
        names = [f for f in sorted(end_files) if f not in consumed]
        if self._max_age > 0 and end_h < start_h:
            # the end offset was computed by a restarted reader before it
            # saw the committed horizon (clock stepped back): any name it
            # re-listed with mtime below the committed horizon was already
            # aged out of an earlier offset — processing it again would be
            # the exact duplicate the monotonic-horizon contract forbids.
            # Replay stays deterministic: the decision derives from the
            # two offsets' recorded horizons plus immutable mtimes.
            kept = []
            for f in names:
                try:
                    if os.path.getmtime(os.path.join(base, f)) >= start_h:
                        kept.append(f)
                except OSError:
                    continue
            names = kept
        return [_FilePartition(os.path.join(base, f)) for f in names]

    def read(self, partition: InputPartition) -> Iterator:
        return self._delegate.read(partition)

    def commit(self, end: dict) -> None:
        # offsets are tracked by the streaming engine's checkpoint (files
        # are immutable; nothing to clean up) — but fold the committed
        # offset's horizon into the in-memory floor so a later
        # latestOffset() on a retreated wall clock cannot resurrect names
        self._horizon = max(self._horizon, float(end.get("horizon", 0.0) or 0.0))


class EsStatusDataSource(DataSource):
    """spark.read.format("es_status").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return DEFAULT_STATUS_DDL

    def reader(self, schema: T.StructType) -> EsStatusReader:
        return EsStatusReader(schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> EsStatusStreamReader:
        return EsStatusStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> "EsStatusStreamWriter":
        return EsStatusStreamWriter(schema, dict(self.options), overwrite)

    def writer(self, schema: T.StructType, overwrite: bool) -> "EsStatusWriter":
        return EsStatusWriter(schema, dict(self.options), overwrite)


def register_es_status(spark: SparkSession) -> None:
    """Idempotently register the format + enable Python filter pushdown.

    The conf is LOAD-BEARING: with it off, Spark refuses to initialize any
    reader that implements pushFilters (DATA_SOURCE_PUSHDOWN_DISABLED) —
    a loud error, not a silent slow path (pinned in
    tests/test_es_datasource.py)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EsStatusDataSource)


def read_es_status(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """Fresh ``load()`` per call — REQUIRED, not convenience: a loaded
    es_status frame caches its reader, so pushed-filter state from one
    executed query sticks to the frame (see module docstring).  Declaring
    a narrow ``schema`` is the projection-pushdown path."""
    register_es_status(spark)
    r = spark.read.format(FORMAT_NAME).option("path", path)
    if schema is not None:
        r = r.schema(schema)
    return r.load()


def export_files(path: str, start=None, stop=None) -> list[str]:
    """The export files a batch ``es_status`` scan of ``time`` in
    ``[start, stop)`` reads: ``EsStatusReader.partitions()`` with that
    window pushed — the directory listing minus ``_``/``.`` names, minus
    files whose ``_ES_COMMIT`` time stats rule the window out.  Runs on
    the driver with no Spark job and no Python worker, so a JVM JSON scan
    (io/sources.py:read_es_hits) can read exactly the connector's splits."""
    reader = EsStatusReader(T.StructType.fromDDL(DEFAULT_STATUS_DDL), {"path": path})
    if start is not None:
        reader.pushed.append(GreaterThanOrEqual(("time",), start))
    if stop is not None:
        reader.pushed.append(LessThan(("time",), stop))
    return [p.path for p in reader.partitions()]


def read_es_status_stream(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """Streaming twin of read_es_status: ``readStream`` through the same
    format; micro-batches consume export files newer (by name) than the
    checkpointed offset, so a restart resumes exactly where it left off."""
    register_es_status(spark)
    r = spark.readStream.format(FORMAT_NAME).option("path", path)
    if schema is not None:
        r = r.schema(schema)
    return r.load()


# ---------------------------------------------------------------------------
# Writer side: the reference's batched-insert sink boundary
# (clickhouse.go:113-130 PrepareBatch/Send — a batch becomes visible
# atomically) re-expressed through Spark 4's Python DataSource writer
# protocol, emitting the SAME hit-export NDJSON shape the reader scans, so
# the connector round-trips df → save → load without a JVM jar.
#
# Encoding is columnar: per column, one pyarrow.compute pass turns the
# values into an array of JSON value texts, one binary_join_element_wise
# joins the columns into hit lines, and the lines' Arrow data buffer is
# written to the file in one call.  String, integer, bool, float,
# timestamp and date columns never become Python objects; only types no
# Arrow kernel encodes (decimal, binary, nested) take the per-value
# json.dumps path (_python_values).  Manifest stats fold once per batch
# with pc.min_max; a float column holding a NaN records no stats for its
# file, because Spark orders NaN above every value and a [min, max] that
# leaves it out would answer max() and prune wrongly.
# ---------------------------------------------------------------------------

# json.dumps' escapes for the control characters JSON forbids raw
_CONTROL_ESCAPES = {
    **{chr(c): f"\\u{c:04x}" for c in range(0x20)},
    "\b": "\\b", "\f": "\\f", "\n": "\\n", "\r": "\\r", "\t": "\\t",
}


def _json_strings(col: "pa.Array") -> "pa.Array":
    """JSON string literals of a string array: ``"``, ``\\`` and control
    characters escaped as json.dumps escapes them; other text stays
    UTF-8 (json.dumps writes non-ASCII as ``\\uXXXX``, which decodes to
    the same string).  Nulls stay null."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = pc.cast(col, pa.string())  # large_string too: lines keep int32 offsets
    if pc.any(pc.match_substring_regex(col, r'["\\\x00-\x1f]')).as_py():
        col = pc.replace_substring_regex(col, r'(["\\])', r"\\\1")
        for raw, esc in _CONTROL_ESCAPES.items():
            col = pc.replace_substring(col, raw, esc)
    return pc.binary_join_element_wise('"', col, '"', "")


def _json_floats(col: "pa.Array") -> "pa.Array":
    """JSON numbers of a float array, decoding to the same float as
    Python's ``repr``: float32 is widened to float64 first (as
    ``to_pylist`` did), integral values keep a ``.0`` so they read back
    as floats, and NaN/±Inf are json.dumps' ``NaN``/``Infinity`` tokens."""
    import pyarrow as pa
    import pyarrow.compute as pc

    x = pc.cast(col, pa.float64())
    out = pc.cast(x, pa.string())
    integral = pc.and_(pc.is_finite(x), pc.equal(pc.floor(x), x))
    if pc.any(integral).as_py():
        # Arrow prints 100.0 as "100" but 1e15 as "1e+15"
        integral = pc.and_(integral, pc.invert(pc.match_substring(out, "e")))
        out = pc.if_else(integral, pc.binary_join_element_wise(out, ".0", ""), out)
    if not pc.all(pc.is_finite(x)).as_py():
        out = pc.replace_substring(pc.replace_substring(out, "nan", "NaN"), "inf", "Infinity")
    return out


def _json_timestamps(col: "pa.Array") -> "pa.Array":
    """ISO-8601 strings in ``datetime.isoformat``'s shape: no fraction
    when the microseconds are 0, and zone-aware values written in UTC
    with a ``+00:00`` suffix (the same instant isoformat wrote in the
    column's zone)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # dropping the zone keeps the UTC wall clock: "YYYY-MM-DD HH:MM:SS.ffffff"
    out = pc.cast(pc.cast(col, pa.timestamp("us")), pa.string())
    out = pc.replace_substring(pc.replace_substring(out, " ", "T"), ".000000", "")
    return pc.binary_join_element_wise('"', out, '+00:00"' if col.type.tz else '"', "")


def _json_default(v):
    """json.dumps ``default`` for the values inside Python-encoded
    columns: timestamps/dates → ISO-8601, Decimal → float, bytes →
    base64."""
    import base64
    import decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    raise TypeError(f"es_status writer: unsupported value type {type(v)}")


def _json_dumps(v) -> str:
    import json

    return json.dumps(v, separators=(",", ":"), default=_json_default)


def _python_values(col: "pa.Array", encode) -> "pa.Array":
    """``encode`` applied to each non-null value in Python — the slow
    path, kept for the types no Arrow kernel encodes."""
    import pyarrow as pa

    return pa.array(
        [None if v is None else encode(v) for v in col.to_pylist()], pa.string()
    )


def _json_values(col: "pa.Array") -> "pa.Array":
    """The JSON text of every value of one column; null → ``null``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        out = _json_strings(col)
    elif pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_null(t):
        out = pc.cast(col, pa.string())
    elif pa.types.is_floating(t):
        out = _json_floats(col)
    elif pa.types.is_timestamp(t) and t.unit != "ns":
        out = _json_timestamps(col)
    elif pa.types.is_date(t):
        out = pc.binary_join_element_wise('"', pc.cast(col, pa.string()), '"', "")
    else:
        out = _python_values(col, _json_dumps)
    return pc.fill_null(out, "null")


def _hit_lines(
    batch: "pa.RecordBatch", index: str, id_col: str, tag: str, n0: int
) -> "pa.Array":
    """One hit NDJSON line (newline included) per row of ``batch``:
    ``{"_id":…,"_index":…,"_source":{…}}``.  ``_id`` is the ``id_col``
    value as text, or ``<tag>:<n>`` (``n`` the row's number in the file,
    ``n0`` that of the batch's first row) where it is null or absent;
    ``_source`` holds every other column, nulls included, in schema
    order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    names = batch.schema.names
    if id_col in names:
        ids = batch.column(names.index(id_col))
        t = ids.type
        if not (pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_integer(t)):
            ids = _python_values(ids, str)
        ids = pc.cast(ids, pa.string())
    else:
        ids = pa.nulls(batch.num_rows, pa.string())
    if ids.null_count:
        numbers = pc.cast(pa.array(np.arange(n0, n0 + batch.num_rows)), pa.string())
        ids = pc.coalesce(ids, pc.binary_join_element_wise(f"{tag}:", numbers, ""))
    src = [n for n in names if n != id_col]
    keys = [k.as_py() for k in _json_strings(pa.array(src, pa.string()))]
    index_json = _json_strings(pa.array([index], pa.string()))[0].as_py()
    head = f',"_index":{index_json},"_source":{{'
    parts: list = ['{"_id":', _json_strings(ids)]
    for i, (name, key) in enumerate(zip(src, keys)):
        parts += [(head if i == 0 else ",") + key + ":", _json_values(batch.column(name))]
    parts.append("}}\n" if src else head + "}}\n")
    return pc.binary_join_element_wise(*parts, "")


def _fold_stats(bounds: dict, batch: "pa.RecordBatch", cols: list[str]) -> None:
    """Fold this batch's per-column [min, max] into ``bounds`` in place.
    ``bounds[c] = None`` marks a column that records no stats for the
    file: one holding a NaN, or of a type min_max does not order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for c in cols:
        i = batch.schema.get_field_index(c)
        if i < 0 or (c in bounds and bounds[c] is None):
            continue
        col = batch.column(i)
        if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
            bounds[c] = None
            continue
        try:
            mm = pc.min_max(col)
        except pa.ArrowNotImplementedError:
            bounds[c] = None
            continue
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None:
            continue  # all null
        cur = bounds.get(c)
        bounds[c] = [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]


def _stats_str(v) -> str:
    """Canonical string form the WRITER records in the manifest: timestamps
    → ISO-8601, everything else → str().  The READER never compares these
    strings directly — it decodes them back to typed values with
    _typed_stat/_typed_literal (string order is wrong for numbers and
    fragile for timestamps)."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _utc_dt(s: str):
    """ISO string → UTC-aware datetime; naive input is taken as UTC (the
    engine's session timezone), so '…T05:00:00' == '…T05:00:00+00:00'."""
    import datetime

    d = datetime.datetime.fromisoformat(s)
    if d.tzinfo is None:
        return d.replace(tzinfo=datetime.timezone.utc)
    return d.astimezone(datetime.timezone.utc)


def _typed_stat(dt: T.DataType, s: str):
    """Decode a recorded manifest stats string to a comparable native value
    for the column's declared type; None = not decodable → don't prune."""
    import decimal

    try:
        if isinstance(dt, T.StringType):
            return s
        if isinstance(dt, _INTEGRAL_TYPES):
            return int(s)
        if isinstance(dt, _FLOAT_TYPES):
            v = float(s)
            # a NaN bound (an older writer's NaN-first file) orders nothing
            return None if v != v else v
        if isinstance(dt, T.DecimalType):
            return decimal.Decimal(s)
        if isinstance(dt, (T.TimestampType, T.DateType)):
            return _utc_dt(s)
    except (TypeError, ValueError, ArithmeticError):
        return None
    return None


def _typed_bounds(dt: T.DataType, pair):
    """Decode a manifest [lo, hi] stats pair; (None, None) when either
    side is undecodable OR the decoded bounds are inverted (lo > hi — a
    manifest written by a pre-fix lexicographic writer, or corruption):
    callers treat that as "no stats" and fall back to scanning rather
    than pruning on bad bounds."""
    lo = _typed_stat(dt, pair[0])
    hi = _typed_stat(dt, pair[1])
    if lo is None or hi is None or lo > hi:
        return None, None
    return lo, hi


def _typed_literal(dt: T.DataType, v):
    """Decode a pushed-filter literal the same way; None → don't prune."""
    import decimal

    try:
        if isinstance(dt, T.StringType):
            return v if isinstance(v, str) else None
        if isinstance(dt, _INTEGRAL_TYPES):
            return int(v)
        if isinstance(dt, _FLOAT_TYPES):
            return float(v)
        if isinstance(dt, T.DecimalType):
            return decimal.Decimal(str(v))
        if isinstance(dt, (T.TimestampType, T.DateType)):
            if isinstance(v, str):
                return _utc_dt(v)
            if hasattr(v, "isoformat"):
                return _utc_dt(v.isoformat())
    except (TypeError, ValueError, ArithmeticError):
        return None
    return None


class _EsWriteCommit(WriterCommitMessage):
    def __init__(
        self, tmp_path: str, final_name: str, n_rows: int, stats: dict | None = None
    ) -> None:
        self.tmp_path = tmp_path
        self.final_name = final_name
        self.n_rows = n_rows
        self.stats = stats or {}


class EsStatusWriter(DataSourceArrowWriter):
    """Task protocol: each executor encodes its Arrow batches to hit
    NDJSON under a task-unique ``_tmp_`` name (a speculative or retried
    task attempt can never collide with a committed file), returns the
    temp path as its commit message, and the driver makes the WHOLE job
    visible atomically: rename every temp into place, then O_EXCL-create
    the ``_ES_COMMIT`` manifest listing exactly the committed files.
    Readers that honor the manifest see all-or-nothing (the PrepareBatch/
    Send batch-visibility analog); ``abort`` removes the temps, so a
    failed job leaves no partial batch behind.

    Encoding is columnar (``_hit_lines``): a batch becomes one Arrow
    array of hit lines built by pyarrow.compute and is written with one
    call, and the manifest's per-file [min, max] of each ``statscolumns``
    column folds once per batch with ``pc.min_max``.  A float column
    that holds a NaN in a file records no stats for that file (Spark
    orders NaN above every value, so no [min, max] without it is
    exact)."""

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool) -> None:
        self.spark_schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("es_status writer requires .option('path', <dir>)")
        self.index = options.get("index", "events")
        self.id_col = options.get("idcolumn", "es_id")
        self.overwrite = overwrite
        # per-file [min, max] of these columns is recorded in the manifest
        # → the reader's split planner skips files outside a pushed range
        self.stats_cols = [
            c.strip()
            for c in options.get("statscolumns", "").split(",")
            if c.strip()
        ]

    def write(self, iterator) -> _EsWriteCommit:
        import os
        import uuid

        from pyspark import TaskContext

        os.makedirs(self.path, exist_ok=True)
        tc = TaskContext.get()
        tag = f"{tc.partitionId()}-{tc.attemptNumber()}-{uuid.uuid4().hex[:8]}"
        final_name = f"part-{tc.partitionId():05d}-{tag}.ndjson"
        tmp = os.path.join(self.path, f"_tmp_{tag}.ndjson")
        n = 0
        # min/max fold on the NATIVE value (string order is wrong for
        # numerics crossing a digit-count boundary: 99 vs 100)
        bounds: dict[str, list | None] = {}
        with open(tmp, "wb") as f:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                _fold_stats(bounds, batch, self.stats_cols)
                lines = _hit_lines(batch, self.index, self.id_col, tag, n)
                _, offsets, data = lines.buffers()
                offsets = memoryview(offsets).cast("i")  # string: int32 offsets
                f.write(memoryview(data)[offsets[lines.offset]:offsets[lines.offset + len(lines)]])
                n += batch.num_rows
        stats: dict[str, list[str]] = {
            c: [_stats_str(b[0]), _stats_str(b[1])]
            for c, b in bounds.items()
            if b is not None
        }
        if n > 0:
            # every hit in this file carries _index == self.index, so the
            # file is single-valued on es_index by construction — record it
            # as an exact [v, v] stat.  This is what lets grouped/filtered
            # aggregates (min per index, the reference's QueryOldestSignal
            # shape) be answered from the manifest alone.
            stats.setdefault("es_index", [self.index, self.index])
        return _EsWriteCommit(tmp, final_name, n, stats)

    def commit(self, messages) -> None:
        import json
        import os

        committed = []
        total = 0
        fstats: dict[str, dict] = {}
        per_file: dict[str, int] = {}
        for m in messages:
            if m is None:
                continue
            os.replace(m.tmp_path, os.path.join(self.path, m.final_name))
            committed.append(m.final_name)
            total += m.n_rows
            per_file[m.final_name] = m.n_rows
            if getattr(m, "stats", None):
                fstats[m.final_name] = m.stats
        manifest = {
            "files": sorted(committed),
            "n_rows": total,
            "per_file": per_file,
            "stats": fstats,
        }
        mpath = os.path.join(self.path, "_ES_COMMIT")
        if self.overwrite:
            with open(mpath, "w") as f:
                json.dump(manifest, f)
        else:
            # append mode must not clobber a previous job's manifest: merge
            if os.path.exists(mpath):
                with open(mpath) as f:
                    prev = json.load(f)
                manifest["files"] = sorted(prev["files"] + manifest["files"])
                manifest["n_rows"] += prev["n_rows"]
                manifest["per_file"] = {
                    **prev.get("per_file", {}), **per_file
                }
                manifest["stats"] = {**prev.get("stats", {}), **fstats}
            with open(mpath, "w") as f:
                json.dump(manifest, f)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class EsStatusStreamWriter(DataSourceStreamArrowWriter, EsStatusWriter):
    """Streaming sink: the batch writer's task protocol (task-unique temp
    file → driver rename → manifest), made EXACTLY-ONCE per micro-batch
    by epoch-keyed manifests.

    Structured Streaming may replay a micro-batch after a driver crash
    (the checkpoint records the offsets, not the sink commit).  The
    guard is an epoch manifest ``_ES_COMMIT_e<batchId>`` published
    ATOMICALLY, body and all: the manifest (including the full
    temp→final rename plan) is staged to a side file, fsynced, and
    linked into place with ``os.link`` — an exclusive, all-or-nothing
    publish.  Only a fully-written marker can ever exist under the
    epoch name, so "marker present" is unambiguous evidence of a
    committed epoch (an earlier revision O_EXCL-created the marker
    BEFORE writing its body and before the renames; a crash in that
    window left a torn empty marker that wedged every replay — ADVICE
    r4).  Data-file renames happen strictly AFTER the marker is
    published, and the marker records them, so a replay (or the next
    commit) can idempotently finish any rename the crash interrupted —
    no file is ever duplicated or lost, whatever the crash point:

    - crash before publish → no marker; replay re-commits from its own
      temps (the dead incarnation's ``_tmp_`` files are invisible to
      readers — reclaim them with ``vacuum_es_status``, never inline:
      a blind sweep could race a live task's in-flight temp);
    - crash after publish, during renames → replay completes the
      recorded renames and merges the manifest;
    - crash after renames, before the global-manifest merge → replay
      merges (idempotent: already-listed files are never re-counted).

    The merged ``_ES_COMMIT`` is the same manifest batch readers honor,
    so a directory fed by the stream is indistinguishable from one fed
    by batch appends."""

    # the MRO resolves `write` to the stream base's ABSTRACT method before
    # reaching EsStatusWriter's concrete one — alias it explicitly (the
    # task protocol is deliberately identical between batch and stream)
    write = EsStatusWriter.write

    def _read_epoch(self, epoch_path: str) -> dict | None:
        """Parse an epoch marker; None = absent OR torn (pre-fix crash
        artifact) — both mean 'this epoch never committed'."""
        import json
        import os

        if not os.path.exists(epoch_path):
            return None
        try:
            with open(epoch_path) as f:
                epoch = json.load(f)
            if not isinstance(epoch, dict) or "files" not in epoch:
                return None
            return epoch
        except (OSError, ValueError):
            return None

    def _complete_epoch(self, epoch: dict) -> None:
        """Finish a published epoch idempotently: apply any rename the
        crash interrupted (temp still present → move it into place;
        temp gone → already renamed), then fold into the global
        manifest."""
        import os

        for tmp_name, final_name in epoch.get("renames", {}).items():
            tmp_p = os.path.join(self.path, tmp_name)
            if os.path.exists(tmp_p):
                os.replace(tmp_p, os.path.join(self.path, final_name))
        self._merge_into_manifest(epoch)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        import json
        import os
        import uuid

        epoch_path = os.path.join(self.path, f"_ES_COMMIT_e{batchId}")
        epoch = self._read_epoch(epoch_path)
        if epoch is not None:
            # Replayed epoch: drop this incarnation's duplicate temps and
            # idempotently finish whatever the committed incarnation left
            # undone (renames and/or the global-manifest merge).
            EsStatusWriter.abort(self, messages)
            self._complete_epoch(epoch)
            return
        if os.path.exists(epoch_path):
            # torn marker from a pre-fix crash: provably not committed
            # (a published marker is atomic) — clear it and commit fresh
            os.remove(epoch_path)

        committed, per_file, fstats, renames = [], {}, {}, {}
        total = 0
        for m in messages:
            if m is None:
                continue
            committed.append(m.final_name)
            renames[os.path.basename(m.tmp_path)] = m.final_name
            per_file[m.final_name] = m.n_rows
            total += m.n_rows
            if getattr(m, "stats", None):
                fstats[m.final_name] = m.stats
        epoch = {
            "files": sorted(committed),
            "n_rows": total,
            "per_file": per_file,
            "stats": fstats,
            "renames": renames,
        }
        # stage the full manifest body, fsync, then publish atomically:
        # os.link fails (FileExistsError) if another incarnation won the
        # race, and a crash at ANY point leaves either no marker or a
        # complete one — never a torn marker under the epoch name
        staged = epoch_path + f".stage-{uuid.uuid4().hex[:8]}"
        with open(staged, "w") as f:
            json.dump(epoch, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(staged, epoch_path)
        except FileExistsError:
            # concurrent incarnation committed first — defer to its marker
            os.remove(staged)
            EsStatusWriter.abort(self, messages)
            winner = self._read_epoch(epoch_path)
            if winner is not None:
                self._complete_epoch(winner)
            return
        os.remove(staged)
        # marker is live: now make the data visible and index it
        self._complete_epoch(epoch)

    def _merge_into_manifest(self, epoch: dict) -> None:
        _merge_epoch_into_manifest(self.path, epoch)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        EsStatusWriter.abort(self, messages)


def manifest_min_max(path: str, col: str, dt: T.DataType):
    """(min, max) of ``col`` answered from the commit manifest ALONE — no
    data file is opened.  Returns None (caller must scan) unless the
    answer is provably exact:

    - every data file visible in the directory is listed in the manifest
      (a stray hand-dropped export would make stats-only answers wrong);
    - every listed file carries recorded [min, max] for ``col``;
    - every recorded bound decodes in the column's declared type.

    Stats are exact per-file extremes recorded by the writer, so under
    those conditions min-of-mins / max-of-maxes IS the aggregate — the
    Python-DataSource analog of SupportsPushDownAggregates, mirroring the
    reference pushing GetOldestTimestamp / min() down to the store
    (clickhouse.go:65-110)."""
    cov = _covered_manifest(path)
    if cov is None:
        return None
    manifest, visible = cov
    stats = manifest.get("stats", {})
    los, his = [], []
    for fname in visible:
        fstats = stats.get(fname, {})
        if col not in fstats:
            return None
        lo, hi = _typed_bounds(dt, fstats[col])
        if lo is None or hi is None:
            return None
        los.append(lo)
        his.append(hi)
    if not los:
        return None
    return min(los), max(his)


def _covered_manifest(path: str):
    """(manifest, visible data files) when the manifest provably covers
    the directory — every data file visible on disk is listed — else
    None (a stray hand-dropped export would make stats-only answers
    wrong).  The shared precondition of every stats-only aggregate."""
    import json
    import os

    mpath = os.path.join(path, "_ES_COMMIT")
    if not os.path.isdir(path) or not os.path.exists(mpath):
        return None
    try:
        with open(mpath) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    listed = set(manifest.get("files", []))
    visible = {
        p
        for p in os.listdir(path)
        if p.endswith((".json", ".jsonl", ".ndjson")) and not p.startswith(("_", "."))
    }
    if visible - listed:
        return None  # stray files the stats don't cover
    return manifest, visible


def manifest_count(path: str) -> int | None:
    """Row count answered from the manifest ALONE, or None when not
    provably exact (coverage gap, or a listed file missing from disk with
    no per-file counts to subtract).  The SupportsPushDownAggregates
    COUNT(*) analog of manifest_min_max."""
    cov = _covered_manifest(path)
    if cov is None:
        return None
    manifest, visible = cov
    per_file = manifest.get("per_file")
    if per_file is not None:
        if any(f not in per_file for f in visible):
            return None
        return sum(per_file[f] for f in visible)
    # legacy manifest without per-file counts: the global n_rows is only
    # exact when every listed file is still on disk
    if set(manifest.get("files", [])) != visible:
        return None
    return manifest.get("n_rows")


def manifest_grouped_agg(
    path: str,
    col: str,
    dt: T.DataType,
    group_col: str,
    group_dt: T.DataType,
):
    """Per-group (min, max, count) of ``col`` answered from the manifest
    ALONE — the grouped/filtered form of manifest_min_max, mirroring the
    reference's QueryOldestSignal with a name filter (min(timestamp)
    WHERE token_id = ? AND name IN (...), clickhouse.go:65-88): group
    extremes are exact when every file is SINGLE-VALUED on the group
    column (its recorded [min, max] coincide), because then min-of-mins
    within a group IS the group minimum.  A file spanning several groups
    makes stats-only grouping unprovable → None, caller scans.  Count
    additionally requires per-file counts (absent → counts are None)."""
    cov = _covered_manifest(path)
    if cov is None:
        return None
    manifest, visible = cov
    stats = manifest.get("stats", {})
    per_file = manifest.get("per_file", {})
    out: dict = {}
    have_counts = True
    for fname in visible:
        fstats = stats.get(fname, {})
        if col not in fstats or group_col not in fstats:
            return None
        glo, ghi = _typed_bounds(group_dt, fstats[group_col])
        if glo is None or ghi is None or glo != ghi:
            return None  # multi-group file: grouping unprovable
        lo, hi = _typed_bounds(dt, fstats[col])
        if lo is None or hi is None:
            return None
        n = per_file.get(fname)
        if n is None:
            have_counts = False
        cur = out.get(glo)
        if cur is None:
            out[glo] = [lo, hi, n]
        else:
            cur[0] = min(cur[0], lo)
            cur[1] = max(cur[1], hi)
            cur[2] = (cur[2] + n) if (cur[2] is not None and n is not None) else None
    if not out:
        return None
    if not have_counts:
        for v in out.values():
            v[2] = None
    return {g: tuple(v) for g, v in out.items()}


def read_es_status_agg(
    spark: SparkSession, path: str, col: str, agg: str = "min",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """min/max/count of one column over an export dir, served from
    manifest stats when exact (1-row local relation, ZERO files read —
    pinned by test on the absence of any scan) and falling back to a real
    pushed-projection scan otherwise.  The resume-point query shape
    (oldest timestamp per sync state, maintenance.py) at connector level;
    ``count`` answers COUNT(*) from the manifest's per-file counts."""
    if agg not in ("min", "max", "count"):
        raise ValueError(
            f"read_es_status_agg supports min/max/count, got {agg!r}"
        )
    st = (
        T.StructType.fromDDL(schema)
        if isinstance(schema, str)
        else (schema or T.StructType.fromDDL(DEFAULT_STATUS_DDL))
    )
    from pyspark.sql import functions as F

    if agg == "count":
        n = manifest_count(path)
        out_schema = T.StructType([T.StructField("n_rows", T.LongType())])
        if n is not None:
            return spark.createDataFrame([(n,)], out_schema)
        narrow = T.StructType([st.fields[0]])
        return read_es_status(spark, path, narrow).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
    dt = next((f.dataType for f in st.fields if f.name == col), None)
    if dt is None:
        raise ValueError(f"column {col!r} not in the declared schema")
    bounds = manifest_min_max(path, col, dt)
    out_schema = T.StructType([T.StructField(f"{agg}_{col}", dt)])
    if bounds is not None:
        val = bounds[0] if agg == "min" else bounds[1]
        return spark.createDataFrame([(val,)], out_schema)
    narrow = T.StructType([next(f for f in st.fields if f.name == col)])
    fn = F.min if agg == "min" else F.max
    return read_es_status(spark, path, narrow).agg(fn(col).alias(f"{agg}_{col}"))


def read_es_status_agg_grouped(
    spark: SparkSession,
    path: str,
    col: str,
    agg: str = "min",
    group_col: str = "es_index",
    groups: list | None = None,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Per-group min/max of ``col`` (plus exact per-group counts when the
    manifest carries them), optionally restricted to ``groups`` — the
    reference's filtered-oldest-signal shape (QueryOldestSignal with a
    name filter, clickhouse.go:65-88) answered from manifest stats when
    every file is single-valued on the group column, else a real grouped
    scan.  Stats-only result is a local relation: ZERO files read."""
    if agg not in ("min", "max"):
        raise ValueError(f"grouped agg supports min/max, got {agg!r}")
    st = (
        T.StructType.fromDDL(schema)
        if isinstance(schema, str)
        else (schema or T.StructType.fromDDL(DEFAULT_STATUS_DDL))
    )
    dt = next((f.dataType for f in st.fields if f.name == col), None)
    gdt = next((f.dataType for f in st.fields if f.name == group_col), None)
    if dt is None or gdt is None:
        raise ValueError(
            f"columns {col!r}/{group_col!r} not in the declared schema"
        )
    from pyspark.sql import functions as F

    out_schema = T.StructType(
        [
            T.StructField(group_col, gdt),
            T.StructField(f"{agg}_{col}", dt),
            T.StructField("n_rows", T.LongType()),
        ]
    )
    per_group = manifest_grouped_agg(path, col, dt, group_col, gdt)
    if per_group is not None:
        rows = [
            (g, lo if agg == "min" else hi, n)
            for g, (lo, hi, n) in sorted(per_group.items())
            if groups is None or g in set(groups)
        ]
        return spark.createDataFrame(rows, out_schema)
    narrow = T.StructType(
        [f for f in st.fields if f.name in (col, group_col)]
    )
    df = read_es_status(spark, path, narrow)
    if groups is not None:
        df = df.filter(F.col(group_col).isin(list(groups)))
    fn = F.min if agg == "min" else F.max
    return df.groupBy(group_col).agg(
        fn(col).alias(f"{agg}_{col}"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _merge_epoch_into_manifest(path: str, epoch: dict) -> None:
    """Idempotently fold an epoch manifest into the global one —
    files already listed are not double-counted, so calling this on
    every replay is safe and repairs a torn marker→manifest crash."""
    import json
    import os

    mpath = os.path.join(path, "_ES_COMMIT")
    prev = {"files": [], "n_rows": 0}
    if os.path.exists(mpath):
        with open(mpath) as f:
            prev = json.load(f)
    missing = [p for p in epoch["files"] if p not in set(prev["files"])]
    if not missing and os.path.exists(mpath):
        return
    counts = epoch.get("per_file", {})
    manifest = {
        "files": sorted(prev["files"] + missing),
        "n_rows": prev["n_rows"] + sum(counts.get(p, 0) for p in missing),
        "per_file": {
            **prev.get("per_file", {}),
            **{p: counts[p] for p in missing if p in counts},
        },
        "stats": {**prev.get("stats", {}), **epoch.get("stats", {})},
    }
    with open(mpath, "w") as f:
        json.dump(manifest, f)


def vacuum_es_status(path: str, older_than_sec: float = 86400.0) -> list[str]:
    """Reclaim crash orphans: ``_tmp_`` task files and ``.stage-`` marker
    stages older than the age guard.  Age-guarded because a live writer's
    in-flight temp is indistinguishable from an orphan by name alone —
    the guard (default 24 h) makes racing an active job impossible in
    practice; both kinds are invisible to readers meanwhile.

    A temp referenced by a PUBLISHED epoch marker's rename plan is NOT an
    orphan: the committing incarnation crashed between publishing the
    marker and applying its renames.  Deleting it by name would silently
    lose the epoch's rows — the next replay's ``_complete_epoch`` would
    see "temp gone" and merge a manifest listing a final file that never
    materialized (ADVICE r5).  Vacuum therefore completes those epochs
    first (apply the recorded renames, fold into the global manifest) —
    the crash-repair path a decommissioned job would otherwise never run —
    and only then sweeps the remaining, genuinely orphaned temps.  Returns
    the removed names (manifest and committed data files are never
    touched)."""
    import json
    import os
    import time

    removed = []
    now = time.time()
    if not os.path.isdir(path):
        return removed
    # complete published-but-unapplied epochs before any deletion
    for p in sorted(os.listdir(path)):
        if not p.startswith("_ES_COMMIT_e") or ".stage-" in p:
            continue
        try:
            with open(os.path.join(path, p)) as f:
                epoch = json.load(f)
        except (OSError, ValueError):
            continue  # torn pre-fix marker: provably never committed
        if not isinstance(epoch, dict) or "files" not in epoch:
            continue
        for tmp_name, final_name in epoch.get("renames", {}).items():
            tmp_p = os.path.join(path, tmp_name)
            if os.path.exists(tmp_p):
                os.replace(tmp_p, os.path.join(path, final_name))
        _merge_epoch_into_manifest(path, epoch)
    for p in os.listdir(path):
        if not (p.startswith("_tmp_") or ".stage-" in p):
            continue
        full = os.path.join(path, p)
        try:
            if now - os.path.getmtime(full) >= older_than_sec:
                os.remove(full)
                removed.append(p)
        except OSError:
            continue
    return removed


def committed_files(path: str) -> list[str]:
    """The manifest-honoring file list (all-or-nothing read boundary)."""
    import json
    import os

    mpath = os.path.join(path, "_ES_COMMIT")
    if not os.path.exists(mpath):
        return []
    with open(mpath) as f:
        return [os.path.join(path, p) for p in json.load(f)["files"]]


def write_es_status(df: DataFrame, path: str, mode: str = "append", **opts) -> None:
    """``df.write.format("es_status")`` with the id column surfaced: any
    column named by ``idcolumn`` (default es_id) becomes the hit ``_id``;
    everything else lands under ``_source``."""
    register_es_status(df.sparkSession)
    w = df.write.format(FORMAT_NAME).mode(mode).option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()
