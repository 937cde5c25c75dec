"""End-to-end crawl rounds: seeds → schedule → fetch-join → extract →
expand → checkpoint, plus kill-resume equivalence (F6/F7/F8).

The arXiv crawls run on the generated corpus of
``tests/arxiv_corpus.py`` (22 records over 12 pages) on every host."""

import tempfile

import pytest
from pyspark.sql import functions as F

from hepcrawl_spark.frontier.checkpoint import RoundStore, SnapshotLogStore
from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl
from hepcrawl_spark.schema import ROBOTS_SCHEMA

import arxiv_corpus


@pytest.fixture(scope="module")
def arxiv_pages(spark):
    return arxiv_corpus.arxiv_pages(spark).persist()


def _arxiv_seeds(spark, pages):
    urls = [r.url for r in pages.select("url").orderBy("url").collect()]
    return make_seeds(spark, [(u, "arXiv", 0) for u in urls])


def test_single_round_crawl(spark, arxiv_pages):
    seeds = _arxiv_seeds(spark, arxiv_pages)
    with tempfile.TemporaryDirectory() as ckpt:
        summary = run_crawl(
            spark, seeds, arxiv_pages, store=RoundStore(spark, ckpt),
            config=CrawlConfig(seen_mode="off", max_rounds=4),
        )
        assert summary["records"] == 22
        assert summary["errors"] == 0
        assert summary["scheduled"] == 12
        store = RoundStore(spark, ckpt)
        records = store.all_records()
        assert records.count() == 22
        lineage = store.all_lineage()
        assert lineage.agg(F.sum("emitted_rows")).first()[0] == 22


def test_fetch_miss_is_error_not_failure(spark, arxiv_pages):
    seeds = make_seeds(spark, [("http://nowhere.org/missing.xml", "arXiv", 0)])
    with tempfile.TemporaryDirectory() as ckpt:
        summary = run_crawl(spark, seeds, arxiv_pages,
                            store=RoundStore(spark, ckpt))
        assert summary["records"] == 0
        assert summary["errors"] == 1


def test_robots_blocks(spark, arxiv_pages, tmp_path):
    seeds = _arxiv_seeds(spark, arxiv_pages)
    robots = spark.createDataFrame(
        [("export.arxiv.org", ["/"], None)], ROBOTS_SCHEMA
    )
    summary = run_crawl(
        spark, seeds, arxiv_pages, robots=robots,
        config=CrawlConfig(max_rounds=2),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary["blocked"] == 12
    assert summary["records"] == 0


def test_seen_dedup_prevents_refetch(spark, arxiv_pages, tmp_path):
    url = arxiv_pages.select("url").orderBy("url").first().url
    seeds = make_seeds(spark, [(url, "arXiv", 0), (url, "arXiv", 0)])
    with tempfile.TemporaryDirectory() as ckpt:
        summary = run_crawl(
            spark, seeds, arxiv_pages, store=RoundStore(spark, ckpt),
            config=CrawlConfig(seen_mode="exact"),
        )
        assert summary["scheduled"] == 1
    # parity mode: both admitted (reference dupefilter disabled)
    summary_off = run_crawl(
        spark, seeds, arxiv_pages, config=CrawlConfig(seen_mode="off"),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary_off["scheduled"] == 2


_HOSTS = ("a.test", "b.test", "c.test")


def _tree_pages(spark, depth=4):
    """Per host a binary link tree ``depth`` levels deep whose pages
    also link back to the root: every round fetches new pages, and
    every round after the first re-offers a URL the seen gate holds."""
    rows = []
    for host in _HOSTS:
        for d in range(depth + 1):
            for i in range(2 ** d):
                url = f"http://{host}/{d}/{i}"
                links = [f"http://{host}/{d + 1}/{2 * i + j}"
                         for j in (0, 1) if d < depth]
                body = "".join(f"<a href='{u}'>k</a>"
                               for u in links + [f"http://{host}/0/0"])
                rows.append((url, f"<html><title>{url}</title>"
                                  f"<body>{body}</body></html>"))
    return _html_pages(spark, rows)


def _tree_seeds(spark):
    return make_seeds(spark, [(f"http://{h}/0/0", "html-generic", 0)
                              for h in _HOSTS])


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("mode", ["exact", "cuckoo", "bloom"])
def test_crawl_releases_round_caches(spark, tmp_path, mode):
    # every frame a round persists (queue, scheduled, offsets, next
    # queue, fetched, extracted, the expansion count cache and the
    # seen-probe output) is released once the round has committed,
    # so a long crawl pins nothing per round
    pages = _tree_pages(spark)
    seeds = _tree_seeds(spark)
    before = _persistent_rdds(spark)
    summary = run_crawl(
        spark, seeds, pages, store=RoundStore(spark, str(tmp_path)),
        config=CrawlConfig(seen_mode=mode, num_shards=4, max_rounds=4),
    )
    assert summary["rounds"] == 4
    assert summary["records"] == 3 * (1 + 2 + 4 + 8)
    assert _persistent_rdds(spark) == before


class _FailingStore(RoundStore):
    def commit_round(self, n, tables, meta=None):
        if n == 1:
            raise RuntimeError("commit of round 1 failed")
        super().commit_round(n, tables, meta)


def test_failed_round_leaves_no_tables_or_caches(spark, tmp_path):
    # a round that raises still drops its bucketed frontier table and
    # releases everything it persisted
    import uuid

    from hepcrawl_spark.sources.bucketed import write_bucketed

    # fresh names: a crawl killed before its cleanup leaves its table
    # locations in the warehouse directory, which outlives the session
    job = "fail_" + uuid.uuid4().hex[:8]
    pages_table = f"pages_{job}"
    write_bucketed(_tree_pages(spark), pages_table, buckets=4)
    seeds = _tree_seeds(spark)
    before = _persistent_rdds(spark)
    try:
        with pytest.raises(RuntimeError, match="commit of round 1 failed"):
            run_crawl(
                spark, seeds, None,
                store=_FailingStore(spark, str(tmp_path)),
                config=CrawlConfig(seen_mode="cuckoo", num_shards=4,
                                   max_rounds=4, pages_table=pages_table,
                                   job_id=job),
            )
        assert [t.name for t in spark.catalog.listTables()
                if t.name.startswith(f"crawl_frontier_{job}")] == []
        assert _persistent_rdds(spark) == before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {pages_table}")


def _records(store):
    return sorted(map(tuple, store.all_records()
                      .select("url", "title").collect()))


def test_bucketed_kill_resume_over_stale_frontier_location(spark, tmp_path):
    # a crawl killed inside a bucketed round leaves that round's
    # crawl_frontier_* location in the warehouse (the in-memory catalog
    # entry dies with the session); the resumed round must write over it
    import os
    import uuid

    from hepcrawl_spark.sources.bucketed import write_bucketed

    job = "stale_" + uuid.uuid4().hex[:8]
    pages_table = f"pages_{job}"
    write_bucketed(_tree_pages(spark), pages_table, buckets=4)
    seeds = _tree_seeds(spark)

    def crawl(root, max_rounds, job_id):
        return run_crawl(
            spark, seeds, None, store=RoundStore(spark, str(root)),
            config=CrawlConfig(seen_mode="cuckoo", num_shards=4,
                               max_rounds=max_rounds,
                               pages_table=pages_table, job_id=job_id),
        )

    try:
        crawl(tmp_path / "full", 4, job + "_full")
        crawl(tmp_path / "cut", 1, job)
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        stale = os.path.join(warehouse.removeprefix("file:"),
                             f"crawl_frontier_{job}_r00001")
        spark.range(3).write.parquet(stale)
        summary = crawl(tmp_path / "cut", 4, job)
        assert summary["rounds"] == 4
        full = _records(RoundStore(spark, str(tmp_path / "full")))
        assert len(full) == 3 * (1 + 2 + 4 + 8)
        assert _records(RoundStore(spark, str(tmp_path / "cut"))) == full
        assert not os.path.exists(stale)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {pages_table}")


def test_lineage_error_samples_are_bounded(spark):
    # one partition with more extraction errors than the sample bound:
    # the lineage row keeps LINEAGE_ERROR_SAMPLES strings and still
    # counts every error
    from hepcrawl_spark.frontier.rounds import (
        LINEAGE_ERROR_SAMPLES,
        _round_body,
    )
    from hepcrawl_spark.lifetimes import release

    n_bad, n_good = LINEAGE_ERROR_SAMPLES + 15, 5
    rows = [(f"http://e.test/bad{i:03d}", "no-such-format")
            for i in range(n_bad)]
    rows += [(f"http://e.test/good{i}", "html-generic")
             for i in range(n_good)]
    scheduled = spark.createDataFrame(
        [(u, fmt, float(i), 0, 0, i, 0, "t") for i, (u, fmt) in
         enumerate(rows)],
        "url string, format string, fetch_ts double, priority long, "
        "eff_priority long, seq long, depth int, source string",
    ).coalesce(1)
    fetched = scheduled.withColumn(
        "html", F.encode(F.concat(F.lit("<html><title>"), F.col("url"),
                                  F.lit("</title></html>")), "utf-8"))
    caches = []
    try:
        out = _round_body(fetched, scheduled, None, 0, CrawlConfig(), caches)
        lineage = out.lineage.collect()
        errors = {r.url: r.error for r in out.errors.collect()}
    finally:
        release(caches)
    assert len(lineage) == 1
    row = lineage[0]
    assert row.input_rows == n_bad + n_good
    assert row.emitted_rows == n_good
    assert row.error_rows == n_bad
    assert len(row.errors) == LINEAGE_ERROR_SAMPLES
    assert set(row.errors) <= set(errors.values())
    assert len(errors) == n_bad


def test_kill_resume_produces_identical_output(spark, arxiv_pages):
    seeds = _arxiv_seeds(spark, arxiv_pages)

    with tempfile.TemporaryDirectory() as full_ckpt, \
         tempfile.TemporaryDirectory() as resumed_ckpt:
        # uninterrupted run
        run_crawl(
            spark, seeds, arxiv_pages, store=RoundStore(spark, full_ckpt),
            config=CrawlConfig(seen_mode="exact", max_rounds=4),
        )
        full = RoundStore(spark, full_ckpt).all_records()

        # "killed" run: stop after round 0 (max_rounds=1), then resume
        run_crawl(
            spark, seeds, arxiv_pages, store=RoundStore(spark, resumed_ckpt),
            config=CrawlConfig(seen_mode="exact", max_rounds=1),
        )
        run_crawl(
            spark, seeds, arxiv_pages, store=RoundStore(spark, resumed_ckpt),
            config=CrawlConfig(seen_mode="exact", max_rounds=4),
        )
        resumed = RoundStore(spark, resumed_ckpt).all_records()

        assert full.count() == resumed.count() == 22
        key_cols = ["url", "title", "preprint_date"]
        assert full.select(key_cols).exceptAll(resumed.select(key_cols)).count() == 0
        assert resumed.select(key_cols).exceptAll(full.select(key_cols)).count() == 0

        # close-of-crawl manifest (K3/K4 payload contract,
        # reference pipelines.py:159-192): written after the final
        # commit on both the full and the resumed crawl
        import json
        import os
        for ckpt in (full_ckpt, resumed_ckpt):
            path = os.path.join(ckpt, "manifest.json")
            assert os.path.exists(path)
            with open(path) as fh:
                manifest = json.load(fh)
            assert set(manifest) >= {
                "job_id", "results_uri", "log_file", "errors"
            }
            assert manifest["errors"] == []
            assert manifest["results_uri"]  # committed records tables
            assert "totals" in manifest


def test_expand_children_mega_expansion_order_and_parallelism(spark):
    # a package-expansion round (few parents, 10^5 children) must (a)
    # preserve the exact serial enqueue order — parents by (fetch_ts
    # ASC, priority DESC, seq DESC), children by position — and (b)
    # not funnel through a single-task global sort: the explode output
    # stays multi-partition, only the tiny per-parent count table is
    # windowed.
    from hepcrawl_spark.frontier.rounds import _expand_children

    n_parents, n_kids = 20, 5000
    records = spark.createDataFrame(
        [(f"http://h{i % 4}.example.org/p{i}",
          [f"http://h{i % 4}.example.org/p{i}/c{j}" for j in range(n_kids)])
         for i in range(n_parents)],
        "url string, new_urls array<string>",
    )
    scheduled = spark.createDataFrame(
        [(f"http://h{i % 4}.example.org/p{i}", float(i % 5), 0,
          1000 + i, 0, "test", "html-generic")
         for i in range(n_parents)],
        "url string, fetch_ts double, priority long, seq long, "
        "depth int, source string, format string",
    )
    out = _expand_children(records, scheduled, seq_base=10**6, max_depth=4)
    assert out.rdd.getNumPartitions() > 1

    rows = out.select("url", "seq").collect()
    assert len(rows) == n_parents * n_kids
    got = [r.url for r in sorted(rows, key=lambda r: r.seq)]
    # expected serial order computed independently in Python
    parents = sorted(range(n_parents), key=lambda i: (i % 5, -0, -(1000 + i)))
    want = [f"http://h{i % 4}.example.org/p{i}/c{j}"
            for i in parents for j in range(n_kids)]
    assert got == want
    seqs = sorted(r.seq for r in rows)
    assert seqs[0] == 10**6 + 1 and seqs[-1] == 10**6 + n_parents * n_kids


def test_expand_children_multi_record_parent_unique_seq(spark):
    """One parent page can emit several records that each carry
    new_urls (zip-member records with sciencedirect hops); posexplode
    restarts _pos per record, so ranks must disambiguate within
    (parent, _pos) — every child needs a unique, deterministic seq."""
    from hepcrawl_spark.frontier.rounds import _expand_children

    records = spark.createDataFrame(
        [("http://h0.x/page", ["http://sd/a"]),
         ("http://h0.x/page", ["http://sd/b"]),
         ("http://h0.x/page", ["http://sd/c", "http://sd/d"]),
         ("http://h1.x/other", ["http://sd/e"])],
        "url string, new_urls array<string>",
    )
    scheduled = spark.createDataFrame(
        [("http://h0.x/page", 0.0, 0, 100, 0, "t", "f"),
         ("http://h1.x/other", 1.0, 0, 101, 0, "t", "f")],
        "url string, fetch_ts double, priority long, seq long, "
        "depth int, source string, format string",
    )
    out = _expand_children(records, scheduled, seq_base=1000, max_depth=4)
    rows = sorted((r.seq, r.url) for r in out.collect())
    seqs = [s for s, _ in rows]
    assert len(seqs) == 5
    assert len(set(seqs)) == 5          # NO duplicate seq values
    assert seqs == [1001, 1002, 1003, 1004, 1005]
    # deterministic order: parent h0 (earlier fetch_ts) first; within
    # it _pos 0 group by child_url (a, b, c), then _pos 1 (d), then h1
    assert [u for _, u in rows] == [
        "http://sd/a", "http://sd/b", "http://sd/c",
        "http://sd/d", "http://sd/e",
    ]


def test_url_blocklist_gates_seeds(spark, arxiv_pages, tmp_path):
    # registrable-domain suffix rule: blocking arxiv.org catches the
    # export.arxiv.org fixture host at queue entry — nothing reaches
    # robots/scheduling, and the drop is counted per reason
    seeds = _arxiv_seeds(spark, arxiv_pages)
    summary = run_crawl(
        spark, seeds, arxiv_pages,
        config=CrawlConfig(max_rounds=2,
                           blocked_domains=("arxiv.org",)),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary["url_filtered"] == 12
    assert summary["scheduled"] == 0
    assert summary["records"] == 0
    assert summary["blocked"] == 0    # distinct from the robots count


def test_url_blocklist_extension_and_default_off(spark, arxiv_pages,
                                                 tmp_path):
    seeds = _arxiv_seeds(spark, arxiv_pages)
    gated = run_crawl(
        spark, seeds, arxiv_pages,
        config=CrawlConfig(max_rounds=2,
                           blocked_extensions=("xml",)),
        store=RoundStore(spark, str(tmp_path / "gated")),
    )
    assert gated["url_filtered"] == 12 and gated["records"] == 0
    # empty blocklists: the gate is inert and the crawl is unchanged
    plain = run_crawl(
        spark, _arxiv_seeds(spark, arxiv_pages), arxiv_pages,
        config=CrawlConfig(max_rounds=2),
        store=RoundStore(spark, str(tmp_path / "plain")),
    )
    assert plain["url_filtered"] == 0
    assert plain["records"] == 22


def _html_pages(spark, pages):
    return spark.createDataFrame(
        [(u, bytearray(h.encode())) for u, h in pages],
        "url string, html binary",
    )


def test_content_seen_suppresses_dup_processing(spark, tmp_path):
    # Mercator content-seen: two URLs serving byte-identical pages —
    # the later fetch is neither extracted nor expanded
    body = ("<html><title>Same</title><body>same words "
            "<a href='http://x.test/kid'>k</a></body></html>")
    pages = _html_pages(spark, [
        ("http://x.test/a", body),
        ("http://x.test/b", body),
        ("http://x.test/kid",
         "<html><title>Kid</title><body>leaf</body></html>"),
    ])
    seeds = make_seeds(spark, [
        ("http://x.test/a", "html-generic", 0),
        ("http://x.test/b", "html-generic", 0),
    ])
    summary = run_crawl(
        spark, seeds, pages,
        config=CrawlConfig(content_seen=True, seen_mode="exact"),
        store=RoundStore(spark, str(tmp_path / "seen")),
    )
    # one of a/b processed + kid = 2 records; the dup page counted
    assert summary["records"] == 2
    assert summary["content_dup"] == 1
    # control: without the test both copies are processed
    control = run_crawl(
        spark, seeds, pages, config=CrawlConfig(seen_mode="exact"),
        store=RoundStore(spark, str(tmp_path / "control")),
    )
    assert control["records"] == 3
    assert control["content_dup"] == 0


def test_content_seen_state_carries_across_rounds_and_resume(spark,
                                                            tmp_path):
    # a links to b; b serves the SAME bytes as a (self-link page) —
    # round 1 must suppress b from the carried checksum state, even
    # when the crawl resumes from a checkpoint between the rounds
    body = ("<html><title>Loop</title><body>dup body "
            "<a href='http://y.test/b'>b</a></body></html>")
    pages = _html_pages(spark, [
        ("http://y.test/a", body),
        ("http://y.test/b", body),
    ])
    seeds = make_seeds(spark, [("http://y.test/a", "html-generic", 0)])
    cfg = CrawlConfig(content_seen=True, seen_mode="off")
    summary = run_crawl(spark, seeds, pages, config=cfg,
                        store=RoundStore(spark, str(tmp_path)))
    # without content-seen this corpus is an infinite self-loop
    # (seen_mode off); the checksum state ends it at depth 1
    assert summary["records"] == 1
    assert summary["content_dup"] == 1
    assert summary["rounds"] <= 3

    import tempfile
    with tempfile.TemporaryDirectory() as ckpt:
        first = run_crawl(
            spark, seeds, pages, store=RoundStore(spark, ckpt),
            config=CrawlConfig(content_seen=True, seen_mode="off",
                               max_rounds=1),
        )
        assert first["records"] == 1 and first["content_dup"] == 0
        resumed = run_crawl(
            spark, seeds, pages, store=RoundStore(spark, ckpt),
            config=cfg,
        )
        # the resumed half sees round 0's checksums from the store
        assert resumed["records"] == 0
        assert resumed["content_dup"] == 1


# the counter crawl: a.test is the main host, s.test fetches one page
# per round (delay 10 s, one at a time, horizon 10 s), robots disallows
# r.test/private/ and the blocklist holds bad.test
_A = "http://a.test"


def _page(title, links=()):
    body = "".join(f"<a href='{u}'>k</a>" for u in links)
    return f"<html><title>{title}</title><body>{body}</body></html>"


def _counter_crawl(spark, root, store_cls, mode):
    from hepcrawl_spark.schema import POLITENESS_SCHEMA

    pages = _html_pages(spark, [
        (f"{_A}/", _page("root", [
            f"{_A}/p1", f"{_A}/dup", f"{_A}/p2", f"{_A}/p3",
            f"{_A}/missing", f"{_A}/broken/1", "http://r.test/ok",
            "http://r.test/private/q", "http://bad.test/y", f"{_A}/"])),
        # p1 and dup serve the same bytes
        (f"{_A}/p1", _page("same")),
        (f"{_A}/dup", _page("same")),
        (f"{_A}/p2", _page("p2", [f"{_A}/c"])),
        (f"{_A}/p3", _page("p3", [f"{_A}/c", f"{_A}/p1"])),
        # routed to a format no extractor is registered for
        (f"{_A}/broken/1", _page("broken")),
        (f"{_A}/c", _page("c", ["http://r.test/private/z"])),
        ("http://r.test/ok", _page("ok")),
        *[(f"http://s.test/{i}", _page(f"s{i}")) for i in (1, 2, 3)],
    ])
    seeds = make_seeds(spark, [
        (u, "html-generic", 0) for u in (
            f"{_A}/", "http://s.test/1", "http://s.test/2",
            "http://s.test/3", "http://bad.test/x",
            "http://r.test/private/p")])
    politeness = spark.createDataFrame([("s.test", 10.0, 1)],
                                       POLITENESS_SCHEMA)
    robots = spark.createDataFrame([("r.test", ["/private/"], None)],
                                   ROBOTS_SCHEMA)
    config = CrawlConfig(
        seen_mode=mode, num_shards=4, horizon=10.0, content_seen=True,
        blocked_domains=("bad.test",),
        child_format_routes={r"/broken/": "no-such-format"},
    )
    store = store_cls(spark, root)
    return store, run_crawl(spark, seeds, pages, politeness, robots,
                            config, store=store)


# each round's queue as the crawl must see it: (carried, offered) —
# carried rows were deferred by the round before and skip the seen gate
_COUNTER_QUEUES = [
    ([], [f"{_A}/", "http://s.test/1", "http://s.test/2", "http://s.test/3",
          "http://bad.test/x", "http://r.test/private/p"]),
    (["http://s.test/2", "http://s.test/1"],
     [f"{_A}/p1", f"{_A}/dup", f"{_A}/p2", f"{_A}/p3", f"{_A}/missing",
      f"{_A}/broken/1", "http://r.test/ok", "http://r.test/private/q",
      "http://bad.test/y", f"{_A}/"]),
    (["http://s.test/1"], [f"{_A}/c", f"{_A}/c", f"{_A}/p1"]),
    ([], ["http://r.test/private/z"]),
]


def _seen_dropped(queues):
    """Offers the seen gate drops, replayed from the URL lists: a URL
    already admitted, or offered twice in one round."""
    seen, dropped = set(), 0
    for _, offered in queues:
        for url in offered:
            if "bad.test" in url or "/private/" in url:
                continue
            if url in seen:
                dropped += 1
            seen.add(url)
    return dropped


@pytest.mark.parametrize("mode", ["exact", "cuckoo"])
@pytest.mark.parametrize("store_cls", [RoundStore, SnapshotLogStore])
def test_round_counters_are_exact(spark, tmp_path, store_cls, mode):
    # every counter a crawl reports, on a crawl where each one moves:
    # blocklist, robots, seen drops, horizon deferral, a content
    # duplicate, a fetch miss and an extraction error
    store, totals = _counter_crawl(spark, str(tmp_path), store_cls, mode)
    counters = {k: v for k, v in totals.items() if k != "manifest_path"}
    assert counters == {
        "rounds": 4, "scheduled": 12, "records": 9, "errors": 2,
        "blocked": 3, "url_filtered": 2, "content_dup": 1,
    }
    assert [store.read_meta(n) for n in range(4)] == [
        {"scheduled": 2, "records": 2, "errors": 0},
        {"scheduled": 8, "records": 5, "errors": 2},
        {"scheduled": 2, "records": 2, "errors": 0},
        {"scheduled": 0, "records": 0, "errors": 0},
    ]
    # queue = url_filtered + blocked + seen_dropped + scheduled +
    # deferred; round n's committed queue is round n+1's
    queues = [store.read_table(n, "queue") for n in range(4)]
    sizes = [q.count() for q in queues]
    assert sizes == [len(c) + len(o) for c, o in _COUNTER_QUEUES[1:]] + [0]
    deferred = sum(q.filter(F.col("seq") < (n + 1) * (1 << 40)).count()
                   for n, q in enumerate(queues))
    assert deferred == sum(len(c) for c, _ in _COUNTER_QUEUES) == 3
    seen_dropped = _seen_dropped(_COUNTER_QUEUES)
    assert seen_dropped == 3
    queue_total = sum(len(c) + len(o) for c, o in _COUNTER_QUEUES)
    assert queue_total == 23 == (
        totals["url_filtered"] + totals["blocked"] + seen_dropped
        + totals["scheduled"] + deferred)


def _edge_crawl(spark, root, case):
    pages = _html_pages(spark, [
        (f"{_A}/", _page("root", [f"{_A}/broken/1", f"{_A}/broken/2"])),
        (f"{_A}/broken/1", _page("b1")),
        (f"{_A}/broken/2", _page("b2")),
    ])
    seeds = {
        # round 1 fetches only pages that fail extraction: the child
        # expansion joins an empty record set
        "extraction_errors": [f"{_A}/"],
        "robots_blocked": ["http://r.test/private/p",
                           "http://r.test/private/q"],
        "empty_seeds": [],
    }[case]
    robots = spark.createDataFrame([("r.test", ["/private/"], None)],
                                   ROBOTS_SCHEMA)
    store = RoundStore(spark, root)
    totals = run_crawl(
        spark, make_seeds(spark, [(u, "html-generic", 0) for u in seeds]),
        pages, robots=robots, store=store,
        config=CrawlConfig(seen_mode="exact",
                           child_format_routes={r"/broken/": "no-such-format"}),
    )
    return store, totals


@pytest.mark.parametrize("case, counters, metas", [
    ("extraction_errors",
     {"rounds": 2, "scheduled": 3, "records": 1, "errors": 2, "blocked": 0},
     [{"scheduled": 1, "records": 1, "errors": 0},
      {"scheduled": 2, "records": 0, "errors": 2}]),
    ("robots_blocked",
     {"rounds": 1, "scheduled": 0, "records": 0, "errors": 0, "blocked": 2},
     [{"scheduled": 0, "records": 0, "errors": 0}]),
    ("empty_seeds",
     {"rounds": 0, "scheduled": 0, "records": 0, "errors": 0, "blocked": 0},
     []),
])
def test_degenerate_rounds_count_exactly(spark, tmp_path, case, counters,
                                         metas):
    # rounds whose frames are empty at run time (adaptive execution
    # prunes joins over them) still finish with exact counters
    store, totals = _edge_crawl(spark, str(tmp_path), case)
    assert {k: totals[k] for k in counters} == counters
    assert totals["url_filtered"] == totals["content_dup"] == 0
    assert [store.read_meta(n) for n in range(len(metas))] == metas
    assert store.last_committed_round() == (len(metas) - 1 if metas
                                            else None)


class _CommitGroupStore(RoundStore):
    """Runs each commit under its own job group; records the jobs the
    crawl's own group held when each commit started and ended."""

    def __init__(self, spark, root, crawl_group):
        super().__init__(spark, root)
        self.crawl_group = crawl_group
        self.crawl_jobs = []

    def _jobs(self):
        tracker = self.spark.sparkContext.statusTracker()
        return set(tracker.getJobIdsForGroup(self.crawl_group))

    def commit_round(self, n, tables, meta=None):
        sc = self.spark.sparkContext
        self.crawl_jobs.append(self._jobs())
        sc.setJobGroup(self.crawl_group + "-commit", "round commit")
        try:
            super().commit_round(n, tables, meta)
        finally:
            sc.setJobGroup(self.crawl_group, "crawl loop")
        self.crawl_jobs.append(self._jobs())


def test_rounds_launch_no_job_outside_the_commit(spark, tmp_path):
    # after the crawl-start queue stats every Spark job of a round runs
    # inside commit_round: the round's frames are lazy up to the commit,
    # and its counters come from the commit's own writes
    import uuid

    group = "crawl-" + uuid.uuid4().hex[:8]
    sc = spark.sparkContext
    store = _CommitGroupStore(spark, str(tmp_path), group)
    sc.setJobGroup(group, "crawl loop")
    try:
        summary = run_crawl(
            spark, _tree_seeds(spark), _tree_pages(spark), store=store,
            config=CrawlConfig(seen_mode="cuckoo", num_shards=4,
                               max_rounds=3),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert summary["rounds"] == 3
    assert summary["records"] == 3 * (1 + 2 + 4)
    first, last = store.crawl_jobs[0], store.crawl_jobs[-1]
    assert first                       # the crawl-start queue stats
    assert last - first == set()
