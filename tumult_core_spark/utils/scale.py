"""Scale-out utilities: broadcast gating and bucketing.

These encode the 100 TB playbook pieces that are configuration rather
than algorithm: a broadcast hint only below a known size, and bucketed
tables that make repeated equi-joins/aggregations on the bucket key
shuffle-free.  Skew needs no helper here: aggregations combine
map-side, AQE splits skewed join partitions, and the truncation
window's rank limit runs as Spark's partial ``WindowGroupLimit``
before its exchange (see ``utils/truncation.py``).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_below(
    df: DataFrame,
    n_rows: int,
    est_row_bytes: int = 64,
    threshold_bytes: int = 100 * 1024 * 1024,
) -> DataFrame:
    """``F.broadcast(df)`` only when ``n_rows * est_row_bytes`` fits
    ``threshold_bytes``; otherwise return ``df`` unhinted so the join
    planner falls back to a shuffle join.

    The unconditional-broadcast OOM is a scale-killer class: a
    relation that is "small by convention" (public key sets, hot
    bucket keys, holdout postings) has no hard bound, and a broadcast
    of an unexpectedly large one kills every executor at once.  The
    caller supplies the row count it already knows (or pays one scalar
    ``count()`` against data it was going to materialize anyway).
    """
    if n_rows * est_row_bytes <= threshold_bytes:
        return F.broadcast(df)
    return df


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: List[str],
    num_buckets: int = 64,
    sort_cols: Optional[List[str]] = None,
    mode: str = "overwrite",
    path: Optional[str] = None,
) -> None:
    """Persist as a hash-bucketed (optionally bucket-sorted) parquet
    table: pay the shuffle ONCE at ingest, then every downstream
    equi-join or groupBy on the bucket columns is exchange-free.

    At 100 TB this is the layout decision that matters most for a
    fact table joined repeatedly on the same key (events by user_id,
    lineitem by orderkey): the bucketed scan reports
    ``HashPartitioning(key, n)``, so the planner drops the Exchange
    on BOTH sides of a co-bucketed sort-merge join (same key, same
    bucket count) and under any aggregation keyed on the bucket
    columns — the dominant shuffle of a 1000-executor join simply
    does not happen.  Against a non-bucketed probe side only the
    probe shuffles (the fact table stays put); with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled`` a 2x bucket
    count still avoids the shuffle.
    tests/test_plans.py::TestBucketedLayout pins all three plans.

    Size ``num_buckets`` so one bucket ≈ one healthy read task
    (128-512 MB of parquet): on bucket-local plans each bucket's
    files form ONE read partition, so ``n`` bounds their parallelism
    — a 100 TB fact table wants n in the tens of thousands, a
    dimension table hundreds.  The file count is ``n x write tasks``
    (every write task emits every bucket it sees rows for);
    ``df.repartition(num_buckets, *bucket_cols)`` immediately before
    the write collapses that to one file per bucket, which with
    ``sort_cols`` also lets the merge phase skip its per-query sort.

    ``path`` makes it an external table (the parquet survives DROP
    TABLE and lives on shared storage instead of the session
    warehouse).  Read it back with
    :func:`~tumult_core_spark.sources.io.read_table`.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
