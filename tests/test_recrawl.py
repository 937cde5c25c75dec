"""Recrawl operators (f12/f13): snapshot history, latest, freshness."""

from datetime import datetime

from pyspark.sql import functions as F

from hepcrawl_spark.frontier import recrawl


def _ts(day, hour=0):
    return datetime(2024, 1, day, hour)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, t, bytearray(c.encode())) for u, t, c in rows],
        "url string, warc_ts timestamp, html binary")


def test_snapshot_history_counts_changes(spark):
    pages = _pages(spark, [
        ("u1", _ts(1), "x"), ("u1", _ts(2), "x"), ("u1", _ts(3), "y"),
        ("u2", _ts(1), "a"), ("u2", _ts(2), "a"),
        ("u3", _ts(5), "solo"),
    ])
    got = {r.url: r for r in recrawl.snapshot_history(pages).collect()}
    assert (got["u1"].versions, got["u1"].changes,
            got["u1"].last_changed) == (3, 1, True)
    assert (got["u2"].versions, got["u2"].changes,
            got["u2"].last_changed) == (2, 0, False)
    assert (got["u3"].versions, got["u3"].changes,
            got["u3"].last_changed) == (1, 0, False)
    assert got["u1"].first_ts_us < got["u1"].last_ts_us


def test_snapshot_latest_picks_newest(spark):
    pages = _pages(spark, [
        ("u1", _ts(1), "old"), ("u1", _ts(9), "new"), ("u2", _ts(2), "b"),
    ])
    got = {r.url: bytes(r.html).decode()
           for r in recrawl.snapshot_latest(pages).collect()}
    assert got == {"u1": "new", "u2": "b"}


def test_recrawl_priority_arithmetic(spark):
    day_us = 86400 * 1_000_000
    hist = spark.createDataFrame(
        [("fresh", 2, 0, 0, 9 * day_us + day_us // 2),  # age half a
                                             # bucket: dropped
         ("stale", 2, 0, 0, 5 * day_us),     # 5 buckets, no churn
         ("churny", 4, 3, 0, 5 * day_us),    # 5 buckets x (1+3) -> 20
         ("ancient", 2, 9, 0, 0)],           # capped at levels
        "url string, versions long, changes long, "
        "first_ts_us long, last_ts_us long")
    got = {r.url: r for r in recrawl.recrawl_candidates(
        hist, as_of_us=10 * day_us, min_age_sec=86400, levels=100,
    ).collect()}
    assert "fresh" not in got
    assert got["stale"].recrawl_priority == 5
    assert got["churny"].recrawl_priority == 20
    assert got["ancient"].recrawl_priority == 100
    assert got["stale"].age_us == 5 * day_us


def test_history_digest_override_skips_html(spark):
    df = spark.createDataFrame(
        [("u1", _ts(1), 7), ("u1", _ts(2), 8)],
        "url string, warc_ts timestamp, digest long")
    got = recrawl.snapshot_history(
        df, digest=F.col("digest")).collect()[0]
    assert (got.versions, got.changes, got.last_changed) == (2, 1, True)


def test_f12_f13_registered():
    import __spark_entry__ as em
    q, o = em.queries(), em.oracle_sql()
    for k in ("f12_snapshot_churn", "f13_recrawl"):
        assert k in q and k in o


def test_as_frontier_seeds_feeds_run_crawl(spark, tmp_path):
    # the freshness loop end-to-end: stale URLs re-enter the frontier
    # with their recrawl priority and actually get fetched again
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig, run_crawl
    from hepcrawl_spark.frontier.seen import CANDIDATE_SCHEMA
    from arxiv_corpus import arxiv_pages

    pages = arxiv_pages(spark)
    day_us = 86400 * 1_000_000
    hist = spark.createDataFrame(
        [(r.url, 3, 2, 0, day_us) for r in pages.select("url").collect()],
        "url string, versions long, changes long, "
        "first_ts_us long, last_ts_us long")
    cands = recrawl.recrawl_candidates(hist, as_of_us=5 * day_us)
    seeds = recrawl.as_frontier_seeds(cands, fmt="arxiv-oai")
    assert seeds.columns == CANDIDATE_SCHEMA.fieldNames()
    got = seeds.collect()
    assert all(r.priority == 4 * (1 + 2) for r in got)  # 4 buckets x churn
    assert all(r.source == "recrawl" and r.depth == 0 for r in got)
    summary = run_crawl(spark, seeds, pages,
                        config=CrawlConfig(max_rounds=2),
                        store=RoundStore(spark, str(tmp_path / "store")))
    assert summary["records"] == 22 and summary["errors"] == 0
