"""End-to-end crawl rounds: seeds → schedule → fetch-join → extract →
expand → checkpoint, plus kill-resume equivalence (F6/F7/F8)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from hepcrawl_spark.frontier.checkpoint import RoundStore
from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl
from hepcrawl_spark.schema import ROBOTS_SCHEMA
from hepcrawl_spark.sources.fixtures import fixture_pages


@pytest.fixture(scope="module")
def arxiv_pages(spark):
    return fixture_pages(spark, formats=["arxiv-oai"]).persist()


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
        _release,
        _round_body,
    )

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
        _release(caches)
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
