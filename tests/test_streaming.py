"""Streaming extraction: availableNow micro-batch over a pages dir."""

import pytest

from pyspark.sql import functions as F


def _page(url, links=()):
    """An inline html-generic page linking to ``links``."""
    body = "".join(f'<a href="{u}">x</a>' for u in links)
    return (url,
            f"<html><head><title>T {url}</title></head>"
            f"<body>doc body {url} {body}</body></html>".encode(),
            "html-generic")


def _pages_dir(spark, path):
    """A generated corpus in the streaming pages schema: 24 pages on
    three hosts, fetched one a minute from 2026-01-01 00:00 and written
    as three files of eight minutes each, oldest first; one page is
    routed to an unregistered format (an extraction error)."""
    import datetime

    from hepcrawl_spark.schema import PAGES_WITH_FORMAT_SCHEMA

    t0 = datetime.datetime(2026, 1, 1)
    rows = []
    for i in range(24):
        url, html, fmt = _page(f"http://h{i % 3}.x/p{i}")
        rows.append((url, t0 + datetime.timedelta(minutes=i), html,
                     None, None, "no-such-format" if i == 7 else fmt))
    for k in range(3):
        spark.createDataFrame(rows[8 * k:8 * k + 8], PAGES_WITH_FORMAT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(path)
    return spark.createDataFrame(rows, PAGES_WITH_FORMAT_SCHEMA)


def test_stream_extract(spark, tmp_path):
    from hepcrawl_spark.extract import extract_records
    from hepcrawl_spark.streaming.pipeline import (
        read_pages_stream,
        stream_extract,
    )

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    batch = _pages_dir(spark, pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger=2)
    assert stream.isStreaming
    q = stream_extract(stream, ckpt, output_path=out_dir)
    q.awaitTermination(120)

    # the same rows the batch extraction produces, errors included
    def rows(df):
        return sorted(df.collect(), key=lambda r: r.url)

    want = rows(extract_records(batch))
    assert len(want) == 24
    assert sum(r.error is not None for r in want) == 1
    assert rows(spark.read.parquet(out_dir)) == want

    # resume: a second availableNow run over the same checkpoint adds
    # nothing (exactly-once file-source tracking)
    q2 = stream_extract(
        read_pages_stream(spark, pages_dir), ckpt, output_path=out_dir
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 24


def test_stream_host_stats(spark, tmp_path):
    from hepcrawl_spark.streaming.pipeline import (
        read_pages_stream,
        stream_host_stats,
    )

    pages_dir = str(tmp_path / "pages")
    batch = _pages_dir(spark, pages_dir)

    # one file per micro-batch: the watermark (10 minutes behind the
    # latest page) closes the first windows before the last batch
    stats = stream_host_stats(
        read_pages_stream(spark, pages_dir, max_files_per_trigger=1))
    q = (
        stats.writeStream.format("memory").queryName("host_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.window_start, r.url_host): (r.n_pages, r.bytes)
           for r in spark.sql("select * from host_stats").collect()}
    want = {
        (r.window_start, r.url_host): (r.n_pages, r.bytes)
        for r in batch.groupBy(
            F.window("warc_ts", "1 minute").start.alias("window_start"),
            F.regexp_extract("url", r"^http://([^/]+)", 1).alias("url_host"),
        ).agg(F.count(F.lit(1)).alias("n_pages"),
              F.sum(F.octet_length("html")).alias("bytes")).collect()
    }
    # append mode emits a window once the watermark passes its end
    assert got and set(got) < set(want)
    assert {k: want[k] for k in got} == got
    assert {host for _, host in got} == {"h0.x", "h1.x", "h2.x"}


@pytest.mark.parametrize("mode", ["exact", "cuckoo"])
def test_stream_unseen_state_survives_microbatches(spark, tmp_path, mode):
    """applyInPandasWithState URL-seen gate (exact set and serialized
    cuckoo-shard state): a fingerprint admitted in micro-batch 1 is
    rejected when it reappears in micro-batch 2 (the GroupState
    carries the shard's membership across batches).  Within one
    micro-batch the lowest seq wins even when the duplicates arrive
    in different Arrow chunks, exactly as in ``filter_unseen``."""
    from hepcrawl_spark.frontier.seen import CANDIDATE_SCHEMA, filter_unseen
    from hepcrawl_spark.streaming.pipeline import stream_unseen

    src = tmp_path / "cand"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = []
    schema = "url string, fingerprint long, seq long"

    # batch 1: urls a,b ; batch 2: b (dup), c ; batch 3: one new
    # fingerprint twice, its lower-seq row second — as three files so
    # maxFilesPerTrigger=1 forces three micro-batches
    b3 = [("http://x/d-late", 44, 6), ("http://x/d-early", 44, 5)]
    for name, rows in (
        ("b1", [("http://x/a", 11, 1), ("http://x/b", 22, 2)]),
        ("b2", [("http://x/b", 22, 3), ("http://x/c", 33, 4)]),
        ("b3", b3),
    ):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / name))

    stream = (
        spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    # one row per Arrow chunk: batch 3's two rows reach the shard's
    # GroupState function as separate chunks
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        q = (
            stream_unseen(stream, num_shards=4, mode=mode)
            .writeStream
            .foreachBatch(lambda df, epoch: sink.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    admitted = sorted((r.url, r.seq) for r in sink)
    assert admitted == [("http://x/a", 1), ("http://x/b", 2),
                        ("http://x/c", 4), ("http://x/d-early", 5)]

    batch, _ = filter_unseen(
        spark.createDataFrame(
            [(u, u, "x", fp, 0, 0, seq, None, None) for u, fp, seq in b3],
            CANDIDATE_SCHEMA,
        ), None, mode=mode, num_shards=4,
    )
    assert [(u, s) for u, s in admitted if u.startswith("http://x/d")] \
        == sorted((r.url, r.seq) for r in batch.collect())


def test_stream_unseen_cuckoo_overflow_fails_loudly(spark, tmp_path):
    """A streaming cuckoo shard whose eviction walk is exhausted ends
    the query with an error naming the shard, instead of admitting
    the homeless key again later (a silent false negative)."""
    from hepcrawl_spark.streaming.pipeline import stream_unseen

    schema = "url string, fingerprint long, seq long"
    src = tmp_path / "cand"
    # 40 keys, all in shard 3 of 4; the shard holds 4 buckets x 4 slots
    spark.createDataFrame(
        [(f"http://x/{i}", 4 * i + 3, i) for i in range(40)], schema
    ).coalesce(1).write.parquet(str(src))
    q = (
        stream_unseen(spark.readStream.schema(schema).parquet(str(src)),
                      num_shards=4, mode="cuckoo", shard_buckets=4)
        .writeStream
        .foreachBatch(lambda df, epoch: df.collect())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="cuckoo seen shard 3 overflowed"):
        q.awaitTermination(120)


def _write_seeds(spark, frontier, urls):
    """Append ``urls`` as one seed file to the watched ``frontier``."""
    from hepcrawl_spark.frontier.rounds import make_seeds
    from hepcrawl_spark.frontier.seen import CANDIDATE_SCHEMA

    seeds = make_seeds(spark, [(u, "html-generic", 0) for u in urls])
    seeds.select(CANDIDATE_SCHEMA.fieldNames()).coalesce(1) \
        .write.mode("append").parquet(str(frontier))
    return seeds


def _children_files(frontier):
    """The published children files, name -> modification time."""
    return {p.name: p.stat().st_mtime_ns for p in frontier.glob("children-*")}


def test_stream_crawl_round_full_loop(spark, tmp_path):
    """The FULL streaming crawl — seen gate, politeness scheduler,
    fetch join, extraction and depth expansion composed in one
    foreachBatch round body, with the frontier loop closed through the
    watched directory.  Per-host spacing, URL-seen dedup and depth
    expansion must hold across micro-batches AND across full query
    restarts (state store + the store's committed offsets)."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig
    from hepcrawl_spark.schema import POLITENESS_SCHEMA
    from hepcrawl_spark.streaming.pipeline import stream_crawl_round

    kids = {
        "http://h0.x/s0": ["http://h0.x/s0/c0", "http://h0.x/shared"],
        "http://h0.x/s1": ["http://h0.x/s1/c0", "http://h0.x/shared"],
        "http://h1.x/s2": ["http://h1.x/s2/c0", "http://h1.x/s2/c1"],
        "http://h1.x/s3": ["http://h1.x/s3/c0", "http://h1.x/s3/c1"],
    }
    uniq_children = sorted({u for v in kids.values() for u in v})
    rows = [_page(u, links) for u, links in kids.items()]
    rows += [_page(u) for u in uniq_children]
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    politeness = spark.createDataFrame(
        [("h0.x", 10.0, 1), ("h1.x", 10.0, 1)], POLITENESS_SCHEMA
    )

    frontier = tmp_path / "frontier"
    frontier.mkdir()
    store = RoundStore(spark, str(tmp_path / "store"))
    _write_seeds(spark, frontier, sorted(kids))

    def run_round():
        q = stream_crawl_round(
            spark, str(frontier), pages, store,
            politeness=politeness,
            config=CrawlConfig(seen_mode="exact", num_shards=4, max_depth=2),
        )
        q.awaitTermination(180)

    run_round()                      # epoch 0: the four seeds
    run_round()                      # RESTART; epoch 1: the children
    assert store.last_committed_round() == 1

    fetched = sorted(r.url for r in store.all_records().select("url")
                     .collect())
    # every page exactly once: the shared child link dedups through
    # the GroupState seen gate, across two query lifetimes
    assert fetched == sorted(list(kids) + uniq_children)
    assert [store.read_meta(n)["scheduled"] for n in (0, 1)] \
        == [4, len(uniq_children)]
    # depth expansion happened through the loop, and stopped there
    assert {r.depth for r in spark.read.parquet(
        str(frontier / "children-000000000-*")).collect()} == {1}

    # per-host spacing holds CONTINUOUSLY: each round's committed
    # offsets carry the host's next slot across the restart (delay 10,
    # concurrency 1): h0.x 2 seeds then 3 children, h1.x 2 then 4
    offsets = {r.url_host: r.next_fetch_ts
               for r in store.read_table(1, "offsets").collect()}
    assert offsets == {"h0.x": 50.0, "h1.x": 60.0}

    # a re-injected duplicate seed file admits NOTHING (seen state
    # survived two restarts)
    _write_seeds(spark, frontier, sorted(kids))
    run_round()                      # epoch 2: all duplicates
    assert store.read_meta(2)["scheduled"] == 0
    assert store.all_records().count() == len(kids) + len(uniq_children)


def test_stream_crawl_offsets_replay_batch_schedule(spark, tmp_path):
    """Each micro-batch runs the batch engine's schedule() with the
    host offsets the round before committed, so per-host spacing holds
    ACROSS batches: every round's committed offsets equal a batch
    ``schedule`` + ``_merge_offsets`` replay of the same micro-batches,
    and a host's slots never restart at a batch boundary."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.politeness import schedule
    from hepcrawl_spark.frontier.rounds import CrawlConfig, _merge_offsets
    from hepcrawl_spark.schema import POLITENESS_SCHEMA
    from hepcrawl_spark.streaming.pipeline import stream_crawl_round

    b1 = ["http://h0.x/u0", "http://h0.x/u1", "http://h1.x/v0",
          "http://h1.x/v1", "http://h1.x/v2"]
    b2 = ["http://h0.x/u2", "http://h0.x/u3", "http://h1.x/v3"]
    pages = spark.createDataFrame(
        [_page(u) for u in b1 + b2], "url string, html binary, format string")
    politeness = spark.createDataFrame(
        [("h0.x", 5.0, 1), ("h1.x", 2.0, 2)], POLITENESS_SCHEMA
    )
    frontier = tmp_path / "frontier"
    frontier.mkdir()
    # two seed files, one micro-batch each
    batches = [_write_seeds(spark, frontier, b) for b in (b1, b2)]
    store = RoundStore(spark, str(tmp_path / "store"))
    stream_crawl_round(
        spark, str(frontier), pages, store, politeness=politeness,
        config=CrawlConfig(seen_mode="exact", num_shards=4),
        max_files_per_trigger=1,
    ).awaitTermination(180)
    assert store.last_committed_round() == 1

    def rows(df):
        return {r.url_host: (r.next_fetch_ts, r.crawl_delay)
                for r in df.collect()}

    o, fetch_ts = None, {}
    for n, batch in enumerate(batches):
        sched, _, new_o = schedule(batch, politeness, o)
        o = _merge_offsets(o, new_o)
        assert rows(store.read_table(n, "offsets")) == rows(o)
        for r in sched.collect():
            fetch_ts.setdefault(r.url_host, []).append(r.fetch_ts)
    # h0: delay 5, concurrency 1 → one fetch per 5 s, batch 2 going on
    # from the carried offset; h1: delay 2, concurrency 2 → ≤2 per slot,
    # the batch-2 url waits for the carried offset (4.0), never early
    assert sorted(fetch_ts["h0.x"]) == [0.0, 5.0, 10.0, 15.0]
    assert sorted(fetch_ts["h1.x"]) == [0.0, 0.0, 2.0, 4.0]


def test_stream_clean_corpus_dedup_across_microbatches(spark, tmp_path):
    """Continuous corpus cleaning: the Gopher gate drops junk inside
    each micro-batch, and a duplicate of a batch-1 document arriving
    in batch 2 is suppressed by the content-hash GroupState; the
    admitted rows equal the batch clean_corpus over the union."""
    from hepcrawl_spark.operators.corpus import clean_corpus
    from hepcrawl_spark.streaming.pipeline import stream_clean_corpus

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    other = " ".join(
        ("the" if i % 9 == 0 else f"tok{i}") for i in range(60)
    )
    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = []

    schema = "doc_id long, text string"
    # batch 1: good doc + junk; batch 2: dup of the good doc + new doc
    spark.createDataFrame(
        [(0, good), (1, "the tiny one")], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(2, good), (3, other)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream_clean_corpus(stream, num_shards=4)
        .writeStream
        .foreachBatch(lambda df, epoch: sink.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in sink}
    assert sorted(got) == [0, 3]  # 1 fails gate, 2 is a cross-batch dup
    # parity with the batch operator over the union (doc 2 shares
    # content with 0, so min-id 0 survives in both)
    union = spark.createDataFrame(
        [(0, good), (1, "the tiny one"), (2, good), (3, other)], schema
    )
    want = {r.doc_id: r for r in clean_corpus(union).collect()}
    assert sorted(want) == [0, 3]
    for d in (0, 3):
        assert got[d].guessed_lang == want[d].guessed_lang
        assert got[d].token_cnt == want[d].token_cnt
        assert got[d].fingerprint == want[d].fingerprint


def test_stream_clean_corpus_decontaminates(spark, tmp_path):
    """The streaming peer of the batch decontamination stage: docs
    sharing a 13-gram with the (driver-collected) eval-set grams are
    dropped by a stateless codegen filter BEFORE the stateful dedup
    exchange — same outcome as the batch pipeline's benchmark= stage."""
    from hepcrawl_spark.operators.dedup import bench_gram_list
    from hepcrawl_spark.streaming.pipeline import stream_clean_corpus

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    other = " ".join(
        ("the" if i % 9 == 0 else f"tok{i}") for i in range(60)
    )
    bench = spark.createDataFrame(
        [(" ".join(good.split()[10:25]),)], "text string"
    )  # a 15-token span of `good` sits in the eval set
    grams = bench_gram_list(bench, n=13)
    assert len(grams) == 3          # 15 tokens → 3 distinct 13-grams

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(0, good), (1, other)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    sink = []
    q = (
        stream_clean_corpus(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            num_shards=4, benchmark_grams=grams,
        )
        .writeStream
        .foreachBatch(lambda df, epoch: sink.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # doc 0 is gate-clean but contaminated -> dropped; doc 1 survives
    assert sorted(r.doc_id for r in sink) == [1]
    # guard: a corpus-sized "benchmark" is refused
    import pytest as _pytest

    big = spark.range(30).selectExpr(
        "concat_ws(' ', transform(sequence(1, 20), "
        "i -> concat('w', id * 100 + i))) AS text"
    )
    with _pytest.raises(ValueError, match="distinct 13-grams"):
        bench_gram_list(big, n=13, max_grams=100)


def test_stream_clean_corpus_state_survives_restart(spark, tmp_path):
    """A second availableNow run over the SAME checkpoint (a full
    stop/start cycle — the daily-restart reality of a continuous
    ingest) must still suppress duplicates of documents admitted
    before the restart: the content-fingerprint GroupState comes back
    from the state store, not from memory."""
    from hepcrawl_spark.streaming.pipeline import stream_clean_corpus

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    other = " ".join(
        ("the" if i % 9 == 0 else f"tok{i}") for i in range(60)
    )
    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run(sink):
        q = (
            stream_clean_corpus(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "*")),
                num_shards=4)
            .writeStream
            .foreachBatch(lambda df, epoch: sink.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    sink1 = []
    spark.createDataFrame([(0, good)], schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    run(sink1)
    assert [r.doc_id for r in sink1] == [0]

    # restart: new file with a dup of doc 0 and a new doc
    sink2 = []
    spark.createDataFrame([(5, good), (6, other)], schema).coalesce(1) \
        .write.parquet(str(src / "b2"))
    run(sink2)
    assert sorted(r.doc_id for r in sink2) == [6]


def _three_depths(spark):
    """A 3-level link tree on two hosts with one linked page missing
    from the corpus: (pages, politeness, seed urls, every page)."""
    from hepcrawl_spark.schema import POLITENESS_SCHEMA

    tree = {
        "http://h0.x/s0": ["http://h0.x/s0/c0", "http://h0.x/s0/c1"],
        "http://h1.x/s1": ["http://h1.x/s1/c2", "http://h1.x/s1/c3"],
        "http://h0.x/s0/c0": ["http://h0.x/g0"],
        "http://h0.x/s0/c1": ["http://h0.x/g1"],
        "http://h1.x/s1/c2": ["http://h1.x/g2"],
        # linked but not in the corpus: a fetch miss in both engines
        "http://h1.x/s1/c3": ["http://h1.x/missing"],
    }
    leaves = ["http://h0.x/g0", "http://h0.x/g1", "http://h1.x/g2"]
    rows = [_page(u, links) for u, links in tree.items()]
    rows += [_page(u) for u in leaves]
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    politeness = spark.createDataFrame(
        [("h0.x", 1.0, 1), ("h1.x", 1.0, 1)], POLITENESS_SCHEMA
    )
    return (pages, politeness, ["http://h0.x/s0", "http://h1.x/s1"],
            sorted(set(tree) | set(leaves)))


@pytest.mark.parametrize("seen_mode", ["exact", "cuckoo"])
def test_drive_stream_crawl_drains_three_depths(spark, tmp_path, seen_mode):
    """The drain-loop helper — a 3-level crawl runs to empty through
    drive_stream_crawl's restart loop and commits what the batch
    engine commits on the same inputs: the same records (full rows)
    and errors, the same per-round counters, and lineage with the
    batch schema and the same emitted total."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig, run_crawl
    from hepcrawl_spark.streaming.pipeline import drive_stream_crawl

    pages, politeness, seed_urls, every_page = _three_depths(spark)
    config = CrawlConfig(seen_mode=seen_mode, num_shards=4, max_rounds=8,
                         max_depth=3)
    frontier = tmp_path / "frontier"
    frontier.mkdir()
    seeds = _write_seeds(spark, frontier, seed_urls)
    stream = RoundStore(spark, str(tmp_path / "stream_store"))
    persistent_rdds = spark.sparkContext._jsc.getPersistentRDDs().size
    before = persistent_rdds()
    out = drive_stream_crawl(spark, str(frontier), pages, stream,
                             politeness=politeness, config=config)
    # every epoch released what it persisted
    assert persistent_rdds() == before

    batch = RoundStore(spark, str(tmp_path / "batch_store"))
    summary = run_crawl(spark, seeds, pages, politeness=politeness,
                        store=batch, config=config)
    # depth 0/1/2 rounds, then a run that commits nothing
    assert out == {"rounds": summary["rounds"], "drained": True}
    assert out["rounds"] == 3

    def rows(df):
        return sorted(df.collect(), key=lambda r: tuple(map(str, r)))

    stream_recs = rows(stream.all_records())
    assert sorted(r.url for r in stream_recs) == every_page
    assert stream_recs == rows(batch.all_records())
    # the fetch miss is recorded, not dropped
    assert rows(stream.all_errors()) == rows(batch.all_errors()) == [
        ("http://h1.x/missing", "FetchMiss: url not in corpus")]
    for n in range(out["rounds"]):
        assert stream.read_meta(n) == batch.read_meta(n)
    assert stream.all_lineage().schema == batch.all_lineage().schema
    assert stream.all_lineage().agg(F.sum("emitted_rows")).first()[0] \
        == batch.all_lineage().agg(F.sum("emitted_rows")).first()[0] \
        == len(every_page)


@pytest.mark.parametrize("store_cls", ["RoundStore", "SnapshotLogStore"])
def test_stream_crawl_retried_epoch_commits_once(spark, tmp_path,
                                                 store_cls):
    """A micro-batch that Spark re-runs after its round committed (the
    query died between the store's commit point and its own commit
    log) commits nothing: no CommitConflictError, no duplicate records,
    its children are not published again, and the seen state still
    rejects re-injected seeds."""
    import os

    from hepcrawl_spark.frontier import checkpoint
    from hepcrawl_spark.frontier.rounds import CrawlConfig
    from hepcrawl_spark.streaming.pipeline import stream_crawl_round

    frontier = tmp_path / "frontier"
    frontier.mkdir()
    pages, politeness, seed_urls, every_page = _three_depths(spark)
    _write_seeds(spark, frontier, seed_urls)
    store = getattr(checkpoint, store_cls)(spark, str(tmp_path / "store"))

    def run():  # one availableNow run
        stream_crawl_round(
            spark, str(frontier), pages, store, politeness=politeness,
            config=CrawlConfig(seen_mode="cuckoo", num_shards=4, max_depth=3),
        ).awaitTermination(180)

    def urls():
        return sorted(r.url for r in store.all_records().select("url")
                      .collect())

    run()                                   # round 0: the seeds
    children = _children_files(frontier)    # round 0's children
    assert children and store.last_committed_round() == 0
    commits = tmp_path / "store" / "stream-checkpoint" / "commits"
    for path in commits.glob("*0*"):        # 0 and its .crc
        os.remove(path)
    run()              # re-runs epoch 0, then round 1 takes its children
    assert (commits / "0").exists()
    assert store.last_committed_round() == 1
    assert {name: mtime for name, mtime in _children_files(frontier).items()
            if name in children} == children
    assert [store.read_meta(n)["records"] for n in (0, 1)] == [2, 4]
    assert len(urls()) == len(set(urls())) == 6

    # round 2: round 1's children and the re-injected seeds, which the
    # seen state rejects
    _write_seeds(spark, frontier, seed_urls)
    run()
    assert store.read_meta(2)["scheduled"] == 4
    assert urls() == every_page


@pytest.mark.parametrize("store_cls", ["RoundStore", "SnapshotLogStore"])
def test_stream_crawl_failed_write_leaves_round_uncommitted(spark, tmp_path,
                                                            store_cls):
    """One of round 1's table writes raises: the query fails, no commit
    point appears, the epoch's caches are released, and restarting on
    the store gives the uninterrupted crawl's records, each once."""
    from hepcrawl_spark.frontier import checkpoint
    from hepcrawl_spark.frontier.rounds import CrawlConfig
    from hepcrawl_spark.streaming.pipeline import drive_stream_crawl

    def boom(value):  # nested: pickled by value for the Python workers
        raise RuntimeError("planted write failure")

    base = getattr(checkpoint, store_cls)

    class FailingStore(base):
        def commit_round(self, n, tables, meta=None):
            if n == 1:
                tables = {**tables, "offsets": tables["offsets"].withColumn(
                    "url_host", F.udf(boom, "string")("url_host"))}
            super().commit_round(n, tables, meta)

    frontier = tmp_path / "frontier"
    frontier.mkdir()
    pages, politeness, seed_urls, every_page = _three_depths(spark)
    _write_seeds(spark, frontier, seed_urls)

    def drive(store):
        return drive_stream_crawl(
            spark, str(frontier), pages, store, politeness=politeness,
            config=CrawlConfig(seen_mode="cuckoo", num_shards=4, max_depth=3))

    root = str(tmp_path / "store")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="planted write failure"):
        drive(FailingStore(spark, root))
    store = base(spark, root)
    assert store.last_committed_round() == 0
    assert [s["round"] for s in store.snapshot_log()] == [0]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

    assert drive(store) == {"rounds": 3, "drained": True}
    titles = sorted(map(tuple, store.all_records().select("url", "title")
                        .collect()))
    assert titles == [(u, f"T {u}") for u in every_page]
    assert [store.read_meta(n)["records"] for n in range(3)] == [2, 4, 3]


def test_stream_clean_corpus_mixes(spark, tmp_path):
    """The streaming peer of the data-mixing stage: the RNG-free
    md5-threshold predicate is stateless codegen, so the mixture
    table gives a document the SAME keep/drop verdict in any
    micro-batch — the streamed mixed+gated output equals the batch
    mix_sample -> clean_corpus composition on the pooled input."""
    from hepcrawl_spark.operators.corpus import clean_corpus, mix_sample
    from hepcrawl_spark.streaming.pipeline import stream_clean_corpus

    def prose(i):
        return " ".join(
            ("the" if j % 9 == 0 else f"w{i}x{j}") for j in range(50)
        )

    rows = [(i, prose(i), "s0" if i % 2 == 0 else "s1", "en")
            for i in range(40)]
    schema = "doc_id long, text string, source string, lang string"
    src = tmp_path / "docs"
    src.mkdir()
    # two micro-batches
    spark.createDataFrame(rows[:20], schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[20:], schema).coalesce(1) \
        .write.parquet(str(src / "b2"))
    rates = {("s0", "en"): 1.0, ("s1", "en"): 0.4}

    sink = []
    q = (
        stream_clean_corpus(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            num_shards=4, mix_rates=rates,
        )
        .writeStream
        .foreachBatch(lambda df, epoch: sink.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = clean_corpus(mix_sample(
        spark.createDataFrame(rows, schema), rates
    ))
    want = sorted(r.doc_id for r in batch.collect())
    assert sorted(r.doc_id for r in sink) == want
    # the mixture actually cut: every s0 doc present, s1 thinned
    got = {r.doc_id for r in sink}
    assert {i for i in range(40) if i % 2 == 0} <= got
    assert len([i for i in got if i % 2 == 1]) < 20


@pytest.mark.parametrize("seen_mode", ["exact", "cuckoo"])
@pytest.mark.parametrize("gate", ["blocklist", "robots"])
def test_stream_crawl_url_blocklist_parity_with_batch(spark, tmp_path,
                                                      gate, seen_mode):
    """The streaming round body applies the SAME queue-entry gates as
    the batch round: blocking h1.x — by the URL blocklist
    (CrawlConfig.blocked_domains) or by a robots Disallow — keeps the
    whole h1.x subtree (seeds AND loop-back children) out of both
    engines, and the drained record sets still match under either
    seen gate."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig, run_crawl
    from hepcrawl_spark.schema import POLITENESS_SCHEMA, ROBOTS_SCHEMA
    from hepcrawl_spark.streaming.pipeline import drive_stream_crawl

    tree = {
        "http://h0.x/s0": ["http://h0.x/s0/c0", "http://h1.x/cross"],
        "http://h1.x/s1": ["http://h1.x/s1/c2"],
    }
    leaves = ["http://h0.x/s0/c0", "http://h1.x/cross",
              "http://h1.x/s1/c2"]
    rows = [_page(u, links) for u, links in tree.items()]
    rows += [_page(u) for u in leaves]
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    politeness = spark.createDataFrame(
        [("h0.x", 0.1, 4), ("h1.x", 0.1, 4)], POLITENESS_SCHEMA
    )
    seed_urls = sorted(tree)
    robots = (spark.createDataFrame([("h1.x", ["/"], None)], ROBOTS_SCHEMA)
              if gate == "robots" else None)
    config = CrawlConfig(
        seen_mode=seen_mode, num_shards=4, max_rounds=4, max_depth=2,
        blocked_domains=("h1.x",) if gate == "blocklist" else (),
    )

    # streaming engine, h1.x blocked (covers the blocked SEED s1 and
    # the blocked loop-back CHILD cross linked from an h0.x page)
    frontier = tmp_path / "frontier"
    frontier.mkdir()
    seeds = _write_seeds(spark, frontier, seed_urls)
    stream = RoundStore(spark, str(tmp_path / "stream_store"))
    out = drive_stream_crawl(
        spark, str(frontier), pages, stream,
        politeness=politeness, robots=robots, config=config,
    )
    assert out["drained"]
    stream_urls = sorted(
        r.url for r in stream.all_records().select("url").collect()
    )
    assert stream_urls == ["http://h0.x/s0", "http://h0.x/s0/c0"]

    # batch engine, same config → identical record set
    ckpt = str(tmp_path / "ckpt")
    run_crawl(
        spark, seeds, pages, politeness=politeness, robots=robots,
        store=RoundStore(spark, ckpt), config=config,
    )
    batch_urls = sorted(
        r.url for r in RoundStore(spark, ckpt).all_records()
        .select("url").collect()
    )
    assert batch_urls == stream_urls


@pytest.mark.parametrize("field, value", [
    ("seen_mode", "off"), ("seen_mode", "bloom"),
    ("horizon", 10.0), ("pages_table", "pages_bucketed"),
])
def test_stream_crawl_round_rejects_batch_only_config(spark, tmp_path,
                                                      field, value):
    """Config the streaming crawl cannot honour fails on the driver
    before any query starts, instead of a bare KeyError or silence."""
    import dataclasses

    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig
    from hepcrawl_spark.streaming.pipeline import stream_crawl_round

    config = dataclasses.replace(CrawlConfig(seen_mode="exact"),
                                 **{field: value})
    pages = spark.createDataFrame([], "url string, html binary")
    with pytest.raises(ValueError, match=field):
        stream_crawl_round(spark, str(tmp_path / "frontier"), pages,
                           RoundStore(spark, str(tmp_path / "store")),
                           config=config)


def test_read_warc_stream_parses_members(spark, tmp_path):
    # two WARC members land in the watched dir; the stream must
    # yield every record with byte-identical payloads, continuously
    from hepcrawl_spark.streaming.pipeline import read_warc_stream

    warc_dir = tmp_path / "warc_in"
    warc_dir.mkdir()
    out_dir = str(tmp_path / "records_out")
    ckpt = str(tmp_path / "ckpt")

    def member(recs):
        return "".join(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {u}\r\nWARC-Date: {d}\r\n"
            f"Content-Length: {len(p)}\r\n\r\n{p}\r\n\r\n"
            for u, d, p in recs
        )

    (warc_dir / "m0.warc").write_text(member([
        ("http://a.example.com/1", "2026-08-19T00:00:01Z", "alpha"),
        ("http://a.example.com/2", "2026-08-19T00:00:02Z",
         "beta\r\ngamma"),
    ]), newline="")
    (warc_dir / "m1.warc").write_text(member([
        ("http://b.example.com/3", "2026-08-19T00:00:03Z", ""),
    ]), newline="")

    q = (
        read_warc_stream(spark, str(warc_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.target_uri: r for r in spark.read.parquet(out_dir).collect()
    }
    assert len(got) == 3
    assert got["http://a.example.com/2"].payload == "beta\r\ngamma"
    assert got["http://b.example.com/3"].payload == ""
    assert all(r.length_ok for r in got.values())
    # a third member arriving later drains on the next availableNow
    (warc_dir / "m2.warc").write_text(member([
        ("http://c.example.com/4", "2026-08-19T00:00:04Z", "delta"),
    ]), newline="")
    q2 = (
        read_warc_stream(spark, str(warc_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 4


def test_stream_clean_corpus_entropy_gate_parity(spark, tmp_path):
    """The entropy screen (p15's gate hook) is stateless codegen in
    the shared gated_docs body, so a gibberish document gets the SAME
    drop verdict in any micro-batch — streamed output equals the
    batch clean_corpus(min_entropy=...) on the pooled input, and the
    planted low-entropy doc is gone from both."""
    from hepcrawl_spark.operators.corpus import clean_corpus
    from hepcrawl_spark.streaming.pipeline import stream_clean_corpus

    def prose(i):
        return " ".join(
            ("the" if j % 9 == 0 else f"w{i}x{j}") for j in range(50)
        )

    rows = [(i, prose(i), "s0", "en") for i in range(20)]
    # planted low-entropy doc that PASSES the Gopher gate (unique
    # {a,b}-alphabet words, no bigram dups, stopwords present): the
    # drop must come from the entropy screen, not from Gopher
    lowent = " ".join(
        "the" if j % 9 == 0 else format(j + 16, "06b")
        .replace("0", "a").replace("1", "b")
        for j in range(50)
    )
    rows.append((20, lowent, "s0", "en"))
    schema = "doc_id long, text string, source string, lang string"
    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(rows[:10], schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[10:], schema).coalesce(1) \
        .write.parquet(str(src / "b2"))

    sink = []
    q = (
        stream_clean_corpus(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            num_shards=4, min_entropy=3.0,
        )
        .writeStream
        .foreachBatch(lambda df, epoch: sink.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    pooled = spark.createDataFrame(rows, schema)
    # the plant passes Gopher (it survives the entropy-less batch
    # gate) — so its absence below is the entropy screen's doing
    assert 20 in {r.doc_id for r in clean_corpus(pooled).collect()}
    batch = clean_corpus(pooled, min_entropy=3.0)
    want = sorted(r.doc_id for r in batch.collect())
    assert sorted(r.doc_id for r in sink) == want
    assert 20 not in {r.doc_id for r in sink}
    assert 0 in {r.doc_id for r in sink}      # prose survives


def test_stream_content_seen_ends_mirror_loop(spark, tmp_path):
    """Streaming content-seen: a links to b, b serves the SAME bytes
    (self-link page) — without the checksum ledger and with URL-seen
    sharded off the dup URL, the loop would re-expand forever; the
    ledger ends it, and the state survives the per-round restarts."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig
    from hepcrawl_spark.streaming.pipeline import drive_stream_crawl

    body = ("<html><title>Loop</title><body>dup body "
            "<a href='http://z.test/b'>b</a></body></html>").encode()
    pages = spark.createDataFrame(
        [("http://z.test/a", body, "html-generic"),
         ("http://z.test/b", body, "html-generic")],
        "url string, html binary, format string",
    )
    frontier = tmp_path / "frontier"
    frontier.mkdir()
    _write_seeds(spark, frontier, ["http://z.test/a"])
    store = RoundStore(spark, str(tmp_path / "store"))
    out = drive_stream_crawl(
        spark, str(frontier), pages, store,
        config=CrawlConfig(seen_mode="exact", num_shards=2, max_depth=6,
                           content_seen=True),
    )
    assert out["drained"]
    recs = store.all_records().select("url").collect()
    # only the first copy was ever processed
    assert [r.url for r in recs] == ["http://z.test/a"]
