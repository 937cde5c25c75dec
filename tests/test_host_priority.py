"""Host-authority priorities in the scheduler (linkgraph → schedule).

Contract under test (politeness.schedule docstring): the boost keys
the GLOBAL fetch order, never the stored priority — deferred rows and
expanded children keep the base, so authority can't compound across
rounds or depths.
"""

import pytest
from parity_refs import with_global_order
from pyspark.sql import functions as F

from hepcrawl_spark.frontier import linkgraph
from hepcrawl_spark.frontier.politeness import schedule
from hepcrawl_spark.frontier.rounds import (
    CrawlConfig, _expand_children, make_seeds, run_crawl,
)

CAND = ("url string, url_host string, priority long, depth int, "
        "seq long, source string, format string")


def _cands(spark):
    rows = [
        (f"http://{h}/p/{s}", h, 0, 0, s, "t", "html-generic")
        for h, s in [("a.com", 1), ("a.com", 2),
                     ("b.com", 3), ("b.com", 4)]
    ]
    return spark.createDataFrame(rows, CAND)


def _prio(spark, pairs):
    return spark.createDataFrame(pairs, "url_host string, host_priority long")


def test_boost_promotes_host_in_global_order(spark):
    cands = _cands(spark)
    base, _, _ = schedule(cands)
    order = [r.url for r in
             with_global_order(base).orderBy("fetch_order").collect()]
    # all priority 0, all fetch_ts 0 -> LIFO by seq
    assert order == ["http://b.com/p/4", "http://b.com/p/3",
                     "http://a.com/p/2", "http://a.com/p/1"]

    boosted, _, _ = schedule(
        cands, host_priorities=_prio(spark, [("a.com", 5)]))
    order = [r.url for r in
             with_global_order(boosted).orderBy("fetch_order").collect()]
    # whole host a.com promoted; within-host order unchanged
    assert order == ["http://a.com/p/2", "http://a.com/p/1",
                     "http://b.com/p/4", "http://b.com/p/3"]
    rows = boosted.collect()
    # the stored priority is untouched; the boost lives in eff_priority
    assert all(r.priority == 0 for r in rows)
    assert {r.url_host: r.eff_priority for r in rows} == \
        {"a.com": 5, "b.com": 0}


def test_without_dim_eff_equals_priority(spark):
    sched, _, _ = schedule(_cands(spark))
    assert all(r.eff_priority == r.priority for r in sched.collect())


def test_deferred_rows_keep_base_priority(spark):
    pol = spark.createDataFrame(
        [("a.com", 100.0, 1), ("b.com", 100.0, 1)],
        "url_host string, download_delay double, max_per_host int")
    sched, deferred, _ = schedule(
        _cands(spark), pol, horizon=50.0,
        host_priorities=_prio(spark, [("a.com", 5)]))
    # rank 2 of each host lands at t=100 > horizon -> deferred
    assert sched.count() == 2 and deferred.count() == 2
    assert "eff_priority" not in deferred.columns
    assert all(r.priority == 0 for r in deferred.collect())


def test_rank_priorities_quantization(spark):
    ranks = spark.createDataFrame(
        [("a", 0.5), ("b", 0.25), ("c", 0.1)], "host string, rank double")
    got = {r.url_host: r.host_priority
           for r in linkgraph.rank_priorities(ranks, levels=100).collect()}
    assert got == {"a": 100, "b": 50, "c": 20}


def test_children_order_by_eff_but_inherit_base(spark):
    scheduled = spark.createDataFrame(
        [("http://a.com/p", 0.0, 10, 0, 1, 0, "t", "html-generic"),
         ("http://b.com/p", 0.0, 0, 0, 2, 0, "t", "html-generic")],
        "url string, fetch_ts double, eff_priority long, priority long, "
        "seq long, depth int, source string, format string")
    records = spark.createDataFrame(
        [("http://a.com/p", ["http://a.com/c1", "http://a.com/c2"]),
         ("http://b.com/p", ["http://b.com/c1", "http://b.com/c2"])],
        "url string, new_urls array<string>")
    kids = _expand_children(records, scheduled, seq_base=1000, max_depth=4)
    rows = kids.select("url", "seq", "priority").orderBy("seq").collect()
    # boosted parent's children enqueue FIRST (lower seq) even though
    # the un-boosted parent has the higher seq (would win LIFO)...
    assert [r.url for r in rows] == [
        "http://a.com/c1", "http://a.com/c2",
        "http://b.com/c1", "http://b.com/c2"]
    # ...but every child inherits the BASE priority: no compounding
    assert all(r.priority == 0 for r in rows)


def test_run_crawl_boost_invariant_on_single_host(spark, tmp_path):
    # one-host corpus: a uniform boost must change NOTHING (within-host
    # order is boost-free by construction)
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from arxiv_corpus import arxiv_pages

    pages = arxiv_pages(spark)
    urls = [r.url for r in pages.select("url").orderBy("url").collect()]
    seeds = make_seeds(spark, [(u, "arXiv", 0) for u in urls])
    plain = run_crawl(spark, seeds, pages,
                      config=CrawlConfig(max_rounds=2),
                      store=RoundStore(spark, str(tmp_path / "plain")))
    boosted = run_crawl(
        spark, seeds, pages, config=CrawlConfig(max_rounds=2),
        host_priorities=_prio(spark, [("export.arxiv.org", 50)]),
        store=RoundStore(spark, str(tmp_path / "boosted")))
    assert (plain["records"], plain["scheduled"]) == \
        (boosted["records"], boosted["scheduled"]) == (22, 12)


def test_queue_budget_per_host_and_total(spark):
    rows = [(f"http://{h}/p/{s}", h, p, 0, s, "t", "f")
            for h, p, s in [("a.com", 0, 1), ("a.com", 0, 2),
                            ("a.com", 1, 3), ("a.com", 0, 4),
                            ("b.com", 0, 5), ("b.com", 0, 6)]]
    queue = spark.createDataFrame(rows, CAND)
    from hepcrawl_spark.frontier.politeness import queue_budget

    kept, shed = queue_budget(queue, per_host=2)
    # a.com order: (prio 1, seq 3) first, then seq 4, 2, 1
    assert {(r.url_host, r.seq) for r in kept.collect()} == {
        ("a.com", 3), ("a.com", 4), ("b.com", 5), ("b.com", 6)}
    assert {(r.url_host, r.seq) for r in shed.collect()} == {
        ("a.com", 1), ("a.com", 2)}
    # kept + shed partition the queue exactly
    assert kept.count() + shed.count() == queue.count()

    kept2, shed2 = queue_budget(queue, per_host=2, total=3)
    got = {(r.url_host, r.seq) for r in kept2.collect()}
    # global order (prio DESC, seq DESC): (a,3) wins prio, then seq 6, 5
    assert got == {("a.com", 3), ("b.com", 6), ("b.com", 5)}
    assert shed2.count() == 3

    plan = kept2._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort materializes


def test_f15_registered():
    import __spark_entry__ as em
    assert "f15_queue_budget" in em.queries()
    assert "f15_queue_budget" in em.oracle_sql()


def test_host_skew_report(spark):
    from hepcrawl_spark.frontier.politeness import host_skew_report

    rows = ([(f"http://big/{i}", "big.com", 0, 0, i, "t", "f")
             for i in range(6)]
            + [(f"http://mid/{i}", "mid.com", 0, 0, 100 + i, "t", "f")
               for i in range(3)]
            + [("http://small/1", "small.com", 0, 0, 200, "t", "f")])
    queue = spark.createDataFrame(rows, CAND)
    got = host_skew_report(queue, top_k=2).orderBy("rank").collect()
    assert [(r.url_host, r.depth, r.rank) for r in got] == [
        ("big.com", 6, 1), ("mid.com", 3, 2)]
    # shares are against the FULL queue (10), not just the top-k
    assert got[0].share == 0.6
    assert got[1].cum_share == 0.9
    plan = host_skew_report(queue, top_k=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_f16_registered():
    import __spark_entry__ as em
    assert "f16_host_skew" in em.queries()
    assert "f16_host_skew" in em.oracle_sql()
