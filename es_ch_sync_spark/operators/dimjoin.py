"""J1 — dimension lookup (subject ↔ token_id) as a broadcast join.

The reference resolves ids via a gRPC devices-api with a 24 h in-memory
cache including negative caching of not-found subjects
(/root/reference/internal/service/deviceapi/service.go:45-105, invoked at
internal/sync/sync.go:101-107,190,198).

Relationally that service is a dimension table; the cache is exactly what a
broadcast hash join gives every executor for free, and the negative cache is
the null-producing side of a LEFT join.  At 100 TB the fact side streams
through BroadcastHashJoinExec with zero shuffle as long as the dimension
fits the broadcast threshold (a device dimension of even 10^8 rows of
(string, long) is a few GB — if it outgrows broadcast, switch to a
bucketed/sorted dim table and a shuffle-free sort-merge join; the API here
doesn't change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_tokens(
    facts: DataFrame,
    device_dim: DataFrame,
    subject_col: str = "subject",
    token_col: str = "token_id",
    broadcast_dim: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """LEFT-join facts to the device dimension; split unresolved rows.

    Returns ``(resolved, unresolved)`` — unresolved mirrors the reference's
    NotFoundError quarantine path (service.go:22-36): logged and skipped,
    never fatal (sync.go:97-105).

    A subject listed more than once resolves to its smallest non-null
    token_id (null only if every entry is null), whatever the dim's
    partitioning; dropDuplicates kept whichever row came first.
    """
    dim = device_dim.groupBy(subject_col).agg(F.min(token_col).alias(token_col))
    if broadcast_dim:
        dim = F.broadcast(dim)
    joined = facts.join(dim, on=subject_col, how="left")
    resolved = joined.filter(F.col(token_col).isNotNull())
    unresolved = joined.filter(F.col(token_col).isNull()).drop(token_col)
    return resolved, unresolved
