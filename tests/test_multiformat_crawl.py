"""End-to-end multi-format crawl: ALL format routes through the round
engine at once (seeds → robots → seen gate → politeness → fetch join →
Arrow extraction → checkpointed records), with per-host politeness and
resume state — the whole reference spider fleet as one Spark crawl."""

import pytest

from pyspark.sql import functions as F

from hepcrawl_spark.frontier.checkpoint import RoundStore
from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl
from hepcrawl_spark.sources.fixtures import fixture_pages

from ref_goldens import requires_reference


@pytest.fixture(scope="module")
def corpus(spark):
    return fixture_pages(spark).persist()


@requires_reference
def test_multiformat_crawl(spark, corpus, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt") / "crawl")
    # one seed per page, each carrying its format route (the format is
    # the per-row column, so one crawl serves every spider at once)
    rows = corpus.select("url", "format").collect()
    seeds_df = make_seeds(
        spark, [(r.url, "multi", 0) for r in rows]
    ).drop("format").join(
        corpus.select("url", "format"), on="url"
    ).select(
        "url", "canon_url", "url_host", "fingerprint",
        "priority", "depth", "seq", "source", "format",
    )

    politeness = corpus.select(
        F.expr("parse_url(url, 'HOST')").alias("url_host")
    ).distinct().select(
        "url_host",
        F.lit(0.1).alias("download_delay"),
        F.lit(4).alias("max_per_host"),
    )
    summary = run_crawl(
        spark, seeds_df, corpus, politeness=politeness,
        store=RoundStore(spark, ckpt),
        config=CrawlConfig(seen_mode="exact", max_rounds=1),
    )
    assert summary["errors"] == 0
    assert summary["scheduled"] == len(rows)
    assert summary["records"] >= 35  # every record-bearing format

    store = RoundStore(spark, ckpt)
    last = store.last_committed_round()
    records = store.read_table(last, "records")
    # records from many formats landed in one checkpointed table
    titled = records.filter(F.col("title").isNotNull())
    assert titled.count() >= 30
    assert records.count() >= 35  # multi-record pages explode
    assert records.select("url").distinct().count() >= 30
