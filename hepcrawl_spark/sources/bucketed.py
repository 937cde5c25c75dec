"""Bucketed layout for the fetch join (J5 at cluster scale).

The crawl's hottest join is frontier→pages on ``url``
(``rounds.run_crawl``); at 100 TB the pages corpus cannot broadcast
and a sort-merge join shuffles BOTH sides every round.  Hive-style
bucketing removes that: write the pages corpus once, bucketed and
sorted by ``url``, write each round's scheduled frontier with the
same bucket spec, and Catalyst plans the join with **no Exchange on
either side** (verified on the formatted plan in
tests/test_bucketed_join.py) — per-round cost drops from
shuffle(pages)+shuffle(frontier) to a streaming zip of co-bucketed
files.

The same recipe applies to the url_host-keyed joins (politeness,
robots) when their dimension tables outgrow broadcast range.

Cluster notes: bucket count should be ~2-4× total executor cores and
stable across writes (both sides must match); on object storage the
table lives in the metastore/warehouse like any saveAsTable output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 64


def write_bucketed(df: DataFrame, table: str, key: str = "url",
                   buckets: int = DEFAULT_BUCKETS,
                   mode: str = "overwrite") -> None:
    """Persist ``df`` as a bucketed+sorted table keyed by ``key``."""
    (
        df.write
        .mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def clear_table(spark: SparkSession, table: str) -> None:
    """Drop ``table`` and delete its default warehouse location.  A job
    killed before dropping a managed table leaves the location without
    the (in-memory) catalog entry, and ``saveAsTable`` then refuses to
    create the table there (``LOCATION_ALREADY_EXISTS``)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.lower())
    path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).delete(
        path, True)


def bucketed_fetch_join(spark: SparkSession, frontier_table: str,
                        pages_table: str) -> DataFrame:
    """frontier ⋈ pages on url over co-bucketed tables — the
    shuffle-free round fetch."""
    frontier = spark.table(frontier_table)
    pages = spark.table(pages_table)
    return frontier.join(pages.select("url", "html"), on="url", how="left")


def table_num_buckets(spark: SparkSession, table: str) -> int | None:
    """Bucket count of a saved table (None if unbucketed) — the round
    loop matches its per-round frontier writes to the corpus spec."""
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if row.col_name.strip() == "Num Buckets":
            return int(row.data_type)
    return None
