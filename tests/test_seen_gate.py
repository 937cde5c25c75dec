"""Seen-gate state and probe: the cuckoo blob encoding (occupied slots
or dense buckets), the shared sharded probe's admit/insert order,
overflow reporting, resume from dense-layout state, and
horizon-deferred URLs across crawl rounds."""

import hashlib
import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from hepcrawl_spark.frontier.checkpoint import RoundStore
from hepcrawl_spark.frontier.cuckoo import CuckooShard
from hepcrawl_spark.frontier.fingerprint import with_url_identity
from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl
from hepcrawl_spark.frontier.seen import (
    CANDIDATE_SCHEMA,
    filter_unseen,
    shard_of_host,
)
from hepcrawl_spark.schema import POLITENESS_SCHEMA

DENSE_BLOB_BYTES = 32 + (1 << 16) * 4 * 2  # header + default bucket array


def dense_blob(shard: CuckooShard) -> bytes:
    """The original fixed-size layout: header + the whole bucket array."""
    header = np.array([shard.n_buckets, shard.max_kicks, shard.count,
                       shard.overflow], dtype=np.int64)
    return header.tobytes() + shard.buckets.tobytes()


def _filled(n_keys: int, seed: int = 3) -> CuckooShard:
    shard = CuckooShard()
    keys = np.random.RandomState(seed).randint(
        -2 ** 63, 2 ** 63 - 1, size=n_keys, dtype=np.int64)
    for k in keys.tolist():
        assert shard.insert(k)
    return shard


@pytest.mark.parametrize("n_keys", [0, 2_600, 200_000])  # load 0, ~1%, ~76%
def test_cuckoo_blob_roundtrip_never_grows(n_keys):
    shard = _filled(n_keys)
    blob = shard.to_bytes()
    clone = CuckooShard.from_bytes(blob)
    assert np.array_equal(clone.buckets, shard.buckets)
    assert (clone.count, clone.overflow) == (shard.count, shard.overflow)
    assert len(blob) <= DENSE_BLOB_BYTES
    if n_keys < 2 * shard.n_buckets:  # below 1/3 occupancy: slots only
        assert len(blob) == 32 + 6 * n_keys


def test_dense_parent_layout_blob_decodes():
    shard = _filled(2_600)
    blob = dense_blob(shard)
    assert len(blob) == DENSE_BLOB_BYTES
    clone = CuckooShard.from_bytes(blob)
    assert np.array_equal(clone.buckets, shard.buckets)
    assert (clone.count, clone.overflow, clone.max_kicks) == (
        shard.count, shard.overflow, shard.max_kicks)
    # a full shard keeps writing the dense layout byte for byte
    full = _filled(200_000)
    assert full.to_bytes() == dense_blob(full)


def test_cuckoo_bucket_layout_is_pinned():
    """Insert order → bucket layout must not drift: resume replays
    committed blobs, so a changed layout would change admit decisions."""
    shard = CuckooShard(n_buckets=1 << 8)
    keys = np.random.RandomState(5).randint(
        -2 ** 63, 2 ** 63 - 1, size=900, dtype=np.int64)
    for k in keys.tolist():
        shard.insert(k)
    assert (shard.count, shard.overflow) == (900, 0)
    assert hashlib.sha256(shard.buckets.tobytes()).hexdigest() == (
        "df4ad54ebb88492fedf095a6f6f876d00c4f92322478190e9f6f87a9c89a8d1e")


def _candidates(spark, urls, seqs):
    rows = [(u, None, None, None, 0, 0, s, "web", "html-generic")
            for u, s in zip(urls, seqs)]
    df = spark.createDataFrame(rows, CANDIDATE_SCHEMA)
    return with_url_identity(df.drop("canon_url", "url_host", "fingerprint"))


def test_probe_admits_first_by_seq_and_inserts_in_seq_order(spark):
    urls = [f"http://one.test/p{i % 40}" for i in range(100)]
    seqs = np.random.RandomState(1).permutation(100).tolist()
    cand = _candidates(spark, urls, seqs)
    admitted, state = filter_unseen(cand, None, mode="cuckoo", num_shards=1)
    got = sorted((r.url, r.seq) for r in admitted.collect())
    rows = sorted(((r.seq, r.fingerprint, r.url) for r in cand.collect()))
    first = {}
    for seq, fp, url in rows:
        first.setdefault(fp, (seq, url))
    assert got == sorted((u, s) for s, u in first.values())

    expect = CuckooShard()
    for fp, _ in sorted(first.items(), key=lambda kv: kv[1][0]):
        expect.insert(fp)
    (blob,) = [bytes(r.blob) for r in state.collect()]
    assert np.array_equal(CuckooShard.from_bytes(blob).buckets, expect.buckets)
    assert len(blob) == 32 + 6 * 40


def test_probe_passes_shards_without_candidates_through(spark):
    old = _filled(10)
    state = spark.createDataFrame([(0, bytearray(dense_blob(old)))],
                                  "shard int, blob binary")
    # the one candidate's host lands in shard 1 of 2: shard 0 only passes
    hosts = spark.createDataFrame([(f"h{i}.test",) for i in range(40)], "h string")
    host = hosts.filter(shard_of_host(F.col("h"), 2) == 1).first().h
    cand = _candidates(spark, [f"http://{host}/a"], [0])
    admitted, new_state = filter_unseen(cand, state, mode="cuckoo",
                                        num_shards=2)
    assert admitted.count() == 1
    blobs = {r.shard: bytes(r.blob) for r in new_state.collect()}
    assert blobs[0] == dense_blob(old)  # untouched, still the old layout
    assert len(blobs[1]) == 32 + 6


def test_cuckoo_overflow_fails_loudly(spark):
    # 4 buckets x 4 slots cannot hold 64 keys of one host
    cand = _candidates(spark, [f"http://mega.test/p{i}" for i in range(64)],
                       range(64))
    admitted, _ = filter_unseen(cand, None, mode="cuckoo", num_shards=1,
                                shard_buckets=4)
    with pytest.raises(Exception, match=(
            r"cuckoo seen shard 0 overflowed: 16 keys, load 1\.000, "
            r"overflow 1")):
        admitted.count()


def _html_pages(spark, pages):
    return spark.createDataFrame(
        [(u, bytearray(h.encode())) for u, h in pages],
        "url string, html binary")


@pytest.mark.parametrize("mode", ["off", "exact", "cuckoo", "bloom"])
def test_horizon_deferred_urls_scheduled_exactly_once(spark, mode):
    """12 URLs on one host, delay 10 s, 2 at a time, 25 s per round:
    6 fit in round 0, the rest are deferred and must all be fetched
    in the next two rounds, none twice."""
    urls = [f"http://probe.example.org/p/{i}.html" for i in range(12)]
    pages = _html_pages(spark, [(u, f"<html><title>p{i}</title></html>")
                                for i, u in enumerate(urls)])
    politeness = spark.createDataFrame(
        [("probe.example.org", 10.0, 2)], POLITENESS_SCHEMA)
    with tempfile.TemporaryDirectory() as ckpt:
        totals = run_crawl(
            spark, make_seeds(spark, [(u, "html-generic", 0) for u in urls]),
            pages, politeness=politeness, store=RoundStore(spark, ckpt),
            config=CrawlConfig(seen_mode=mode, horizon=25.0, max_rounds=3))
        fetched = [r.url for r in RoundStore(spark, ckpt).all_records()
                   .select("url").collect()]
    assert totals["scheduled"] == 12
    assert sorted(fetched) == sorted(urls)


def test_resume_from_dense_layout_seen_blobs(spark):
    """A store whose ``seen`` table holds dense fixed-size blobs (what
    stores committed before the occupied-slot encoding contain) resumes
    to the same records as an uninterrupted crawl."""
    def page(url, kids):
        links = "".join(f"<a href='{k}'>k</a>" for k in kids)
        return (url, f"<html><title>{url}</title><body>{links}</body></html>")

    hosts = ["http://a.test", "http://b.test", "http://c.test"]
    tree = []
    for h in hosts:
        kids = [f"{h}/k{i}" for i in range(4)]
        # pages also link back to seeds and across hosts, so later
        # rounds probe keys round 0 inserted
        tree.append(page(f"{h}/", kids + [f"{hosts[0]}/"]))
        tree += [page(k, [f"{h}/", f"{hosts[1]}/k0", f"{k}/leaf"])
                 for k in kids]
        tree += [page(f"{k}/leaf", [f"{h}/k0"]) for k in kids]
    pages = _html_pages(spark, tree)
    seeds = make_seeds(spark, [(f"{h}/", "html-generic", 0) for h in hosts])

    def crawl(ckpt, max_rounds):
        run_crawl(spark, seeds, pages, store=RoundStore(spark, ckpt),
                  config=CrawlConfig(seen_mode="cuckoo", num_shards=4,
                                     max_rounds=max_rounds))
        return RoundStore(spark, ckpt).all_records().select("url", "title")

    with tempfile.TemporaryDirectory() as full_ckpt, \
         tempfile.TemporaryDirectory() as resumed_ckpt:
        full = crawl(full_ckpt, 5)
        crawl(resumed_ckpt, 1)
        seen_dir = os.path.join(resumed_ckpt, "rounds", "round-00000", "seen")
        dense = [(r.shard, bytearray(dense_blob(
                    CuckooShard.from_bytes(bytes(r.blob)))))
                 for r in spark.read.parquet(seen_dir).collect()]
        assert dense and all(len(b) == DENSE_BLOB_BYTES for _, b in dense)
        spark.createDataFrame(dense, "shard int, blob binary") \
            .write.parquet(seen_dir + ".dense")
        shutil.rmtree(seen_dir)
        os.rename(seen_dir + ".dense", seen_dir)
        resumed = crawl(resumed_ckpt, 5)

        assert full.count() == resumed.count() == len(tree)
        assert full.exceptAll(resumed).count() == 0
        assert resumed.exceptAll(full).count() == 0
