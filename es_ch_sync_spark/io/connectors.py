"""Live-endpoint connectors: Elasticsearch (DSv2) and ClickHouse (JDBC).

The engine's operators consume plain DataFrames, so pointing the pipeline
at the reference's actual endpoints (ES status index in, ClickHouse signal
table out — /root/reference/internal/service/{elastic,clickhouse}) is a
reader/writer swap, not an operator change.  The required jars
(elasticsearch-spark-30_2.13, clickhouse-jdbc) are not in this container,
so the ES reader raises a clear ConnectorUnavailable with the exact
spark-submit incantation; the option-building logic (the part that encodes
the reference's connection surface) is real and unit-testable.  The signal
table's writer is io/sinks.write_signals; a ClickHouse target takes
``ch_jdbc_options`` through ``DataFrame.write.format("jdbc")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class ConnectorUnavailable(RuntimeError):
    pass


def es_read_options(
    nodes: str,
    index: str,
    ssl: bool = True,
    username: str | None = None,
    password: str | None = None,
) -> dict[str, str]:
    """Options for the elasticsearch-spark DSv2 source (pushdown on: the
    engine's S2/S3/S6/S7 predicates reach ES as query DSL, same as the
    reference's hand-built request, elastic.go:46-108)."""
    opts = {
        "es.nodes": nodes,
        "es.resource": index,
        "es.read.metadata": "false",
        "es.nodes.wan.only": "true",
        "es.net.ssl": str(ssl).lower(),
        # pushdown is the default; stated explicitly because the engine
        # depends on it (SURVEY §4)
        "es.internal.spark.sql.pushdown": "true",
    }
    if username:
        opts["es.net.http.auth.user"] = username
    if password:
        opts["es.net.http.auth.pass"] = password
    return opts


def read_es_status(spark: SparkSession, nodes: str, index: str, **kw) -> DataFrame:
    try:
        return (
            spark.read.format("org.elasticsearch.spark.sql")
            .options(**es_read_options(nodes, index, **kw))
            .load()
        )
    except Exception as e:  # noqa: BLE001
        raise ConnectorUnavailable(
            "elasticsearch-spark connector not on the classpath; launch with "
            "--packages org.elasticsearch:elasticsearch-spark-30_2.13:<es-version>"
        ) from e


def ch_jdbc_options(
    url: str,
    table: str = "signal",
    username: str | None = None,
    password: str | None = None,
    batch_size: int = 100_000,
) -> dict[str, str]:
    """Options for the ClickHouse JDBC sink (the reference's batched INSERT,
    clickhouse.go:113-130; dedup stays engine-side — the destination's
    ReplacingMergeTree then absorbs any residual overlap exactly as in the
    reference)."""
    opts = {
        "url": url if url.startswith("jdbc:") else f"jdbc:clickhouse://{url}",
        "dbtable": table,
        "driver": "com.clickhouse.jdbc.ClickHouseDriver",
        "batchsize": str(batch_size),
        "isolationLevel": "NONE",  # CH has no transactions; avoids driver probing
    }
    if username:
        opts["user"] = username
    if password:
        opts["password"] = password
    return opts
