"""Exclusive global running sum, shared by the corpus packers and the
crawl's child ordering (importable without ``operators.corpus``)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lifetimes import persist


def two_phase_cumsum(df: DataFrame, value_col: str,
                     order_cols: list[Column],
                     out_col: str = "prev",
                     n_buckets: int | None = None, *,
                     caches: list[DataFrame] | None = None) -> DataFrame:
    """Exact EXCLUSIVE global running sum of ``value_col`` in
    ``order_cols`` order, without an unpartitioned window — the
    skew-safe recipe of the corpus packers and of the crawl's child
    ordering (``frontier/rounds.py _expand_children``), the same idea
    as ``politeness.per_host_rank``: range-partition on the sort key,
    cumulate within each range bucket, re-base with the prefix of
    per-bucket totals via a triangular join over the ≤ n_buckets
    totals.  The bucketed frame is persisted because three branches
    consume it (cumsum, totals, totals for the prefix) — without one
    physical plan each branch would sample its own range boundaries
    and the bucket ids would silently diverge (observed as permuted
    child seq in the crawl's expansion).  It goes into
    ``caches``; release it (``lifetimes.release``) only after the
    result is materialized.
    """
    if n_buckets is None:
        n_buckets = df.sparkSession.sparkContext.defaultParallelism
    bucketed = persist(
        df.repartitionByRange(n_buckets, *order_cols)
        .withColumn("_bkt", F.spark_partition_id()),
        caches,
    )
    w_local = (
        Window.partitionBy("_bkt").orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn(
        "_lcum", F.coalesce(F.sum(value_col).over(w_local),
                            F.lit(0).cast("long"))
    )
    totals = bucketed.groupBy("_bkt").agg(
        F.sum(value_col).alias("_btot")
    )
    bases = (
        totals.alias("ta")
        .join(totals.alias("tb"), F.col("tb._bkt") < F.col("ta._bkt"),
              "left")
        .groupBy(F.col("ta._bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("tb._btot"), F.lit(0)).alias("_bbase"))
    )
    return (
        local.join(F.broadcast(bases), on="_bkt")
        .withColumn(out_col, F.col("_bbase") + F.col("_lcum"))
        .drop("_bkt", "_lcum", "_bbase")
    )
