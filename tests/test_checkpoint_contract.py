"""Store-contract tests: the Iceberg-shaped commit semantics that make
the "swap RoundStore for Iceberg" claim load-bearing (VERDICT r2 #4).

Both implementations — the per-round filesystem ``RoundStore`` and the
metadata-log ``SnapshotLogStore`` — run through the SAME suite:
commit/read roundtrip, uncommitted state invisible after a kill,
double-commit rejection, concurrent-commit conflict, snapshot-id
monotonicity, and a real kill-resume crawl through ``run_crawl``.
Reference behavior matched: JOBDIR resume (settings.py:120).
"""

import json
import os
import tempfile

import pytest

from hepcrawl_spark.frontier.checkpoint import (
    CommitConflictError,
    RoundStore,
    SnapshotLogStore,
)
from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl

from arxiv_corpus import arxiv_pages

STORES = [RoundStore, SnapshotLogStore]


def _df(spark, n, tag):
    return spark.createDataFrame(
        [(i, f"{tag}-{i}") for i in range(n)], "id long, v string"
    )


def _simulate_kill_before_commit(store, spark, n):
    """Write round-``n`` data files WITHOUT the atomic commit record —
    the state a kill mid-commit leaves behind."""
    if isinstance(store, RoundStore):
        path = os.path.join(store._round_dir(n), "queue")
    else:
        ver = store._current_version() + 1
        path = os.path.join(store.root, "data",
                            f"snap-{ver:06d}-r{n}", "queue")
    _df(spark, 3, "orphan").write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("store_cls", STORES)
def test_commit_read_roundtrip(spark, store_cls):
    with tempfile.TemporaryDirectory() as root:
        store = store_cls(spark, root)
        assert store.last_committed_round() is None
        for n in range(3):
            store.commit_round(
                n, {"queue": _df(spark, 5 + n, f"q{n}"),
                    "records": _df(spark, 2 + n, f"r{n}")},
                meta={"round": n, "scheduled": 5 + n},
            )
        assert store.last_committed_round() == 2
        assert store.read_table(1, "queue").count() == 6
        assert store.read_table(2, "records").count() == 4
        assert store.read_table(0, "nonexistent") is None
        assert store.read_table(7, "queue") is None
        assert store.read_meta(2)["scheduled"] == 7
        # generic cross-round reader
        assert store.all_records().count() == 2 + 3 + 4
        # manifest-sink contract: committed records paths exist on disk
        assert os.path.exists(store.records_path(1))


@pytest.mark.parametrize("store_cls", STORES)
def test_kill_leaves_uncommitted_state_invisible(spark, store_cls):
    with tempfile.TemporaryDirectory() as root:
        store = store_cls(spark, root)
        store.commit_round(0, {"queue": _df(spark, 4, "q0")})
        _simulate_kill_before_commit(store, spark, 1)
        # a fresh store (the resumed job) sees only round 0 …
        resumed = store_cls(spark, root)
        assert resumed.last_committed_round() == 0
        assert resumed.read_table(1, "queue") is None
        # … and can redo round 1 cleanly over the leftovers
        resumed.commit_round(1, {"queue": _df(spark, 6, "q1")})
        assert resumed.last_committed_round() == 1
        assert resumed.read_table(1, "queue").count() == 6


@pytest.mark.parametrize("store_cls", STORES)
def test_double_commit_rejected(spark, store_cls):
    with tempfile.TemporaryDirectory() as root:
        store = store_cls(spark, root)
        store.commit_round(0, {"queue": _df(spark, 4, "a")})
        with pytest.raises(CommitConflictError):
            store.commit_round(0, {"queue": _df(spark, 9, "b")})
        # the losing commit did not clobber the committed data
        assert store.read_table(0, "queue").count() == 4


@pytest.mark.parametrize("store_cls", STORES)
def test_concurrent_commit_conflict(spark, store_cls):
    # two writers on the same root (two drivers racing): exactly one
    # commit of round 1 wins; the loser raises instead of silently
    # overwriting — Iceberg's optimistic-concurrency contract
    with tempfile.TemporaryDirectory() as root:
        a = store_cls(spark, root)
        b = store_cls(spark, root)
        a.commit_round(0, {"queue": _df(spark, 4, "base")})
        a.commit_round(1, {"queue": _df(spark, 5, "winner")})
        with pytest.raises(CommitConflictError):
            b.commit_round(1, {"queue": _df(spark, 9, "loser")})
        assert b.read_table(1, "queue").count() == 5


@pytest.mark.parametrize("store_cls", STORES)
def test_snapshot_ids_strictly_monotone(spark, store_cls):
    with tempfile.TemporaryDirectory() as root:
        store = store_cls(spark, root)
        for n in range(4):
            store.commit_round(n, {"queue": _df(spark, 2, f"q{n}")})
        log = store.snapshot_log()
        assert [s["round"] for s in log] == [0, 1, 2, 3]
        ids = [s["snapshot_id"] for s in log]
        assert all(b > a for a, b in zip(ids, ids[1:]))


def test_snapshotlog_version_chain_is_linear(spark):
    # Iceberg-shaped specifics: each commit advances the version chain
    # by one and records its parent snapshot id
    with tempfile.TemporaryDirectory() as root:
        store = SnapshotLogStore(spark, root)
        for n in range(3):
            store.commit_round(n, {"queue": _df(spark, 2, f"q{n}")})
        for ver in (1, 2, 3):
            with open(store._meta_path(ver)) as fh:
                m = json.load(fh)
            assert m["snapshot_id"] == ver
            assert m["parent_snapshot_id"] == ver - 1


def test_run_crawl_kill_resume_on_snapshotlog_store(spark):
    # the round loop only talks to the store contract: the same
    # kill-resume flow test_rounds.py proves on RoundStore holds
    # verbatim on the Iceberg-shaped implementation
    pages = arxiv_pages(spark).persist()
    urls = [r.url for r in pages.select("url").orderBy("url").collect()]
    seeds = make_seeds(spark, [(u, "arXiv", 0) for u in urls])
    with tempfile.TemporaryDirectory() as root:
        run_crawl(
            spark, seeds, pages,
            config=CrawlConfig(seen_mode="exact", max_rounds=1),
            store=SnapshotLogStore(spark, root),
        )
        killed = SnapshotLogStore(spark, root)
        assert killed.last_committed_round() == 0
        summary = run_crawl(
            spark, seeds, pages,
            config=CrawlConfig(seen_mode="exact", max_rounds=4),
            store=SnapshotLogStore(spark, root),
        )
        resumed = SnapshotLogStore(spark, root)
        assert resumed.all_records().count() == 22
        assert summary["manifest_path"]
        with open(summary["manifest_path"]) as fh:
            assert json.load(fh)["errors"] == []
    pages.unpersist()


def _link_tree(spark):
    """Two hosts, each a binary link tree three levels deep."""
    rows = []
    for host in ("a.test", "b.test"):
        for d in range(4):
            for i in range(2 ** d):
                links = "".join(
                    f"<a href='http://{host}/{d + 1}/{2 * i + j}'>k</a>"
                    for j in (0, 1) if d < 3)
                url = f"http://{host}/{d}/{i}"
                rows.append((url, bytearray(
                    f"<html><title>{url}</title><body>{links}</body></html>"
                    .encode())))
    pages = spark.createDataFrame(rows, "url string, html binary")
    seeds = make_seeds(spark, [(f"http://{h}/0/0", "html-generic", 0)
                               for h in ("a.test", "b.test")])
    return pages, seeds


@pytest.mark.parametrize("store_cls", STORES)
def test_failed_table_write_leaves_round_uncommitted(spark, tmp_path,
                                                     store_cls):
    # one of round 1's concurrent table writes raises: the error
    # propagates, no commit point appears, the round's caches are
    # released, and resuming the store gives the uninterrupted crawl
    from pyspark.sql import functions as F

    def boom(value):  # nested: pickled by value for the Python workers
        raise RuntimeError("planted write failure")

    class FailingStore(store_cls):
        def commit_round(self, n, tables, meta=None):
            if n == 1:
                tables = {**tables, "offsets": tables["offsets"].withColumn(
                    "url_host", F.udf(boom, "string")("url_host"))}
            super().commit_round(n, tables, meta)

    pages, seeds = _link_tree(spark)
    config = CrawlConfig(seen_mode="cuckoo", num_shards=4, max_rounds=4)
    full_root, root = str(tmp_path / "full"), str(tmp_path / "cut")
    run_crawl(spark, seeds, pages, config=config,
              store=store_cls(spark, full_root))

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="planted write failure"):
        run_crawl(spark, seeds, pages, config=config,
                  store=FailingStore(spark, root))
    store = store_cls(spark, root)
    assert store.last_committed_round() == 0
    assert [s["round"] for s in store.snapshot_log()] == [0]
    if store_cls is RoundStore:
        assert not os.path.exists(store._manifest_path(1))
    else:
        assert store._current_version() == 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

    summary = run_crawl(spark, seeds, pages, config=config,
                        store=store_cls(spark, root))
    assert summary["rounds"] == 4

    def records(r):
        return sorted(map(tuple, store_cls(spark, r).all_records()
                          .select("url", "title").collect()))

    assert len(records(full_root)) == 2 * (1 + 2 + 4 + 8)
    assert records(root) == records(full_root)
