"""One lifetime rule for what operators pin (``hepcrawl_spark.lifetimes``).

Every operator that persists frames or local-checkpoints its loop
state frees what only it reads before returning and registers what its
result reads in the caller's ``caches``; ``release(caches)`` after the
result is collected brings the session's persistent-RDD count back to
where it started.  Iteration counts are small: the rule does not depend
on them, and each iteration is a few Spark jobs.
"""

import pytest
from test_linkgraph import EDGES, _py_opic, _py_pagerank, _py_trustrank

from hepcrawl_spark.frontier import linkgraph
from hepcrawl_spark.frontier.redirects import resolve_redirects
from hepcrawl_spark.lifetimes import release
from hepcrawl_spark.operators import corpus, dedup

EDGE_SCHEMA = "src_host string, dst_host string, weight long"


def _approx(got, want):
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9, abs=1e-12), k


def _pagerank(spark, caches):
    edges = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    got = {r.host: r.rank for r in linkgraph.pagerank_hosts(
        edges, iterations=2, caches=caches).collect()}
    _approx(got, _py_pagerank(EDGES, iters=2))


def _trustrank(spark, caches):
    edges = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    got = {r.host: r.trust for r in linkgraph.trustrank_hosts(
        edges, ["a"], iterations=2, caches=caches).collect()}
    _approx(got, _py_trustrank(EDGES, {"a"}, iters=2))


def _opic(spark, caches):
    edges = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    got = {r.host: r.cash for r in linkgraph.opic_hosts(
        edges, rounds=2, caches=caches).collect()}
    _approx(got, _py_opic(EDGES, rounds=2)[0])


def _hop_distance(spark, caches):
    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 1), ("c", "d", 1), ("x", "y", 1)],
        EDGE_SCHEMA)
    got = {r.host: r.hops for r in linkgraph.hop_distance(
        edges, ["a"], max_hops=3, caches=caches).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def _hits(spark, caches):
    edges = spark.createDataFrame(
        [("s", "t1", 2), ("s", "t2", 1), ("s", "t3", 1), ("u", "t1", 1)],
        EDGE_SCHEMA)
    r = {x.host: x for x in linkgraph.hits_hosts(
        edges, iterations=2, caches=caches).collect()}
    assert r["s"].hub == max(v.hub for v in r.values())
    assert r["t1"].authority == max(v.authority for v in r.values())
    assert r["t2"].hub == 0.0 and r["s"].authority == 0.0


def _redirects(spark, caches):
    edges = spark.createDataFrame(
        [(f"b/{s}", f"b/{s - 1}") for s in range(4, 0, -1)],
        "url string, redirect_to string")
    out = {r.url: r for r in resolve_redirects(
        edges, max_hops=4, caches=caches).collect()}
    assert {u: (r.resolved, r.final_url, r.hops) for u, r in out.items()} \
        == {f"b/{s}": (True, "b/0", s) for s in range(1, 5)}


def _dedup_clusters(spark, caches):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 0), (1, 2), (5, 6)], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(
        docs, pairs, caches=caches).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}


def _pack_sequences(spark, caches):
    df = spark.createDataFrame(
        [(10, "a b c"), (20, "a b c d"), (30, "a b c d e"), (40, "a b")],
        "doc_id long, text string")
    got = {r.doc_id: (r.seq_id, r.seq_offset) for r in
           corpus.pack_sequences(df, capacity=8, caches=caches).collect()}
    assert got == {10: (0, 0), 20: (0, 3), 30: (0, 7), 40: (1, 4)}


def _minhash_lsh_pairs(spark, caches):
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(0, text), (1, text), (2, "completely different words here")],
        "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.minhash_lsh_pairs(
        df, threshold=0.8, caches=caches).collect()}
    assert got == {(0, 1): 1.0}


def _clean_corpus_full(spark, caches):
    good = " ".join(("the" if i % 9 == 0 else f"word{i}")
                    for i in range(50))
    near = good.rsplit(" ", 1)[0] + " changed"
    other = " ".join(("the" if i % 9 == 0 else f"tok{i}")
                     for i in range(60))
    df = spark.createDataFrame(
        [(0, good), (1, good), (2, near), (3, other), (4, "the tiny")],
        "doc_id long, text string")
    got = {r.doc_id: (r.seq_id, r.seq_offset) for r in
           corpus.clean_corpus_full(df, capacity=64, caches=caches)
           .collect()}
    assert got == {0: (0, 0), 3: (0, 50)}


@pytest.mark.parametrize("run", [
    _pagerank, _trustrank, _opic, _hop_distance, _hits, _redirects,
    _dedup_clusters, _pack_sequences, _minhash_lsh_pairs,
    _clean_corpus_full,
], ids=lambda f: f.__name__.lstrip("_"))
def test_release_returns_persistent_rdds_to_start(spark, run):
    jsc = spark.sparkContext._jsc
    # start from an empty block set, so a frame an earlier test left
    # for the cleaner cannot vanish mid-count
    spark.catalog.clearCache()
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    before = jsc.getPersistentRDDs().size()
    caches = []
    run(spark, caches)
    assert caches and jsc.getPersistentRDDs().size() > before
    release(caches)
    assert jsc.getPersistentRDDs().size() == before
    # released blocks are gone from the frames too
    assert all(not df.is_cached for df in caches)
