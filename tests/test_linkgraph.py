"""Link-graph extraction + host PageRank (f08/f09).

The extractor's JVM-only claim is pinned structurally (no Python
eval node in the plan); PageRank is checked against an independent
pure-Python mirror of the same fixed-iteration formula.
"""

import pytest
from pyspark.sql import functions as F

from hepcrawl_spark.frontier import linkgraph


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, bytearray(h.encode())) for u, h in rows],
        "url string, html binary",
    )


def test_extract_outlinks_quote_styles_and_filtering(spark):
    pages = _pages(spark, [
        (
            "http://a.example.com/p/1",
            '<a href="http://b.example.com/x">1</a>'
            "<a href='https://c.example.com/y'>2</a>"
            '<a href="/relative/z">3</a>'
            '<a href="ftp://d.example.com/f">4</a>'
            '<a href="mailto:x@example.com">5</a>',
        ),
        ("http://a.example.com/p/2", "<p>no links</p>"),
    ])
    out = linkgraph.extract_outlinks(pages).collect()
    got = {(r.src_host, r.dst_url, r.dst_host) for r in out}
    # only the two absolute http(s) targets survive
    assert got == {
        ("a.example.com", "http://b.example.com/x", "b.example.com"),
        ("a.example.com", "https://c.example.com/y", "c.example.com"),
    }


def test_extract_outlinks_plan_is_jvm_only(spark):
    pages = _pages(spark, [("http://a.example.com/", "<p></p>")])
    plan = (
        linkgraph.host_graph(linkgraph.extract_outlinks(pages))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the whole extract -> edge-agg path stays in codegen: a Python
    # eval node here would put the 100 TB pages scan on the slow path
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_host_graph_integer_weights(spark):
    pages = _pages(spark, [
        ("http://a.example.com/1",
         '<a href="http://b.example.com/x">1</a>'
         '<a href="http://b.example.com/y">2</a>'),
        ("http://a.example.com/2",
         '<a href="http://b.example.com/x">1</a>'),
    ])
    edges = linkgraph.host_graph(linkgraph.extract_outlinks(pages))
    rows = {(r.src_host, r.dst_host): r.weight for r in edges.collect()}
    assert rows == {("a.example.com", "b.example.com"): 3}
    assert dict(edges.dtypes)["weight"] == "bigint"


def _py_pagerank(edges, d=0.85, iters=5):
    """Independent mirror of pagerank_hosts' fixed-iteration formula."""
    hosts = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(hosts)
    wout = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0) + w
    rank = {h: 1.0 / n for h in hosts}
    for _ in range(iters):
        dang = sum(r for h, r in rank.items() if h not in wout)
        contrib = {h: 0.0 for h in hosts}
        for s, t, w in edges:
            contrib[t] += rank[s] * w / wout[s]
        rank = {h: (1 - d) / n + d * (contrib[h] + dang / n)
                for h in hosts}
    return rank


EDGES = [
    ("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
    ("c", "a", 1), ("b", "d", 1),   # d is dangling
]


def test_pagerank_matches_python_mirror(spark):
    edges = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, weight long")
    got = {r.host: r.rank
           for r in linkgraph.pagerank_hosts(edges, iterations=5).collect()}
    want = _py_pagerank(EDGES, iters=5)
    assert set(got) == set(want)
    for h in want:
        assert got[h] == pytest.approx(want[h], rel=1e-9), h
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_mass_redistributes(spark):
    # single edge a->b: b has no outlinks, so its whole rank recycles
    # uniformly each iteration; mass must stay 1 and b must outrank a
    edges = spark.createDataFrame(
        [("a", "b", 1)], "src_host string, dst_host string, weight long")
    got = {r.host: r.rank
           for r in linkgraph.pagerank_hosts(edges, iterations=4).collect()}
    want = _py_pagerank([("a", "b", 1)], iters=4)
    assert got["a"] == pytest.approx(want["a"], rel=1e-9)
    assert got["b"] == pytest.approx(want["b"], rel=1e-9)
    assert got["b"] > got["a"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_checkpoint_truncates_lineage(spark):
    edges = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, weight long")
    ranks = linkgraph.pagerank_hosts(edges, iterations=6)
    # every iteration checkpointed: the surviving logical plan hangs
    # off a scan of the checkpoint RDD, not 6 stacked join/agg rounds
    logical = ranks._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" in logical
    # and the values are the fixed-iteration formula's
    want = _py_pagerank(EDGES, iters=6)
    got = {r.host: r.rank for r in ranks.collect()}
    assert set(got) == set(want)
    for h in want:
        assert got[h] == pytest.approx(want[h], rel=1e-9), h


def test_f08_f09_registered():
    import __spark_entry__ as em
    q, o = em.queries(), em.oracle_sql()
    assert "f08_link_graph" in q and "f08_link_graph" in o
    assert "f09_host_rank" in q and "f09_host_rank" in o
    # the oracle unrolls the same iteration count the query runs
    assert o["f09_host_rank"].count("dang") == 2 * em._PR_ITERATIONS


def test_hop_distance_path_graph(spark):
    # a -> b -> c -> d chain plus an unreachable island x -> y: hops
    # count edges from the seed, the island never appears
    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 1), ("c", "d", 1), ("x", "y", 1)],
        "src_host string, dst_host string, weight long",
    )
    got = {r.host: r.hops
           for r in linkgraph.hop_distance(edges, ["a"]).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # max_hops bounds the relaxation: depth 3 never materializes
    capped = {r.host: r.hops for r in linkgraph.hop_distance(
        edges, ["a"], max_hops=2).collect()}
    assert capped == {"a": 0, "b": 1, "c": 2}
    # two seeds: distances take the minimum over seeds
    two = {r.host: r.hops
           for r in linkgraph.hop_distance(edges, ["a", "c"]).collect()}
    assert two == {"a": 0, "b": 1, "c": 0, "d": 1}


def test_f18_registered():
    import __spark_entry__ as em
    q, o = em.queries(), em.oracle_sql()
    assert "f18_hop_distance" in q and "f18_hop_distance" in o
    # the oracle unrolls the same relaxation count the query runs
    assert o["f18_hop_distance"].count("UNION ALL") == em._HOP_MAX


# ---------------------------------------------------------------------------
# anchor-text extraction + aggregation (f22)
# ---------------------------------------------------------------------------

def test_extract_anchors_text_and_cleanup(spark):
    pages = _pages(spark, [
        (
            "http://a.example.com/p/1",
            '<a href="http://b.example.com/x">read  me\n now</a>'
            "<a href='https://c.example.com/y'> padded </a>"
            '<a href="/rel/z">rel</a>'
            '<a href="http://b.example.com/x"></a>',
        ),
    ])
    rows = sorted(
        (r.dst_url, r.anchor_text)
        for r in linkgraph.extract_anchors(pages).collect()
    )
    # relative anchor dropped; whitespace collapsed + trimmed; the
    # empty-bodied anchor survives with '' text
    assert rows == [
        ("http://b.example.com/x", ""),
        ("http://b.example.com/x", "read me now"),
        ("https://c.example.com/y", "padded"),
    ]


def test_anchor_text_summary_counts_and_tiebreak(spark):
    pages = _pages(spark, [
        ("http://s1.x/a",
         '<a href="http://t.x/p">beta</a><a href="http://t.x/p">beta</a>'
         '<a href="http://t.x/p">alpha</a><a href="http://t.x/p">alpha</a>'
         '<a href="http://t.x/q">only</a>'),
        ("http://s2.x/b",
         '<a href="http://t.x/p">gamma</a>'),
    ])
    out = {r.dst_url: r for r in linkgraph.anchor_text_summary(
        linkgraph.extract_anchors(pages)).collect()}
    p = out["http://t.x/p"]
    assert p.anchors == 5 and p.distinct_texts == 3
    # alpha and beta tie at 2 — count DESC, text ASC picks alpha
    assert p.top_text == "alpha" and p.top_text_cnt == 2
    q = out["http://t.x/q"]
    assert (q.anchors, q.distinct_texts, q.top_text, q.top_text_cnt) \
        == (1, 1, "only", 1)


def test_anchor_summary_plan_is_window_free(spark):
    pages = _pages(spark, [
        ("http://s1.x/a", '<a href="http://t.x/p">w</a>')])
    df = linkgraph.anchor_text_summary(linkgraph.extract_anchors(pages))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_linkfarm_hosts_flags_reciprocal_cluster(spark):
    edges = spark.createDataFrame(
        [
            # a <-> b exchange pair, each with one organic out-edge
            ("a.com", "b.com", 5), ("b.com", "a.com", 2),
            ("a.com", "x.com", 1), ("b.com", "y.com", 1),
            # one-way chain: never flagged
            ("x.com", "y.com", 3), ("y.com", "z.com", 3),
            ("x.com", "z.com", 1),
            # self-loop must be ignored entirely
            ("z.com", "z.com", 9),
        ],
        "src_host string, dst_host string, weight long",
    )
    out = {r.host: r for r in
           linkgraph.linkfarm_hosts(edges, min_out=2,
                                    min_recip_pct=40).collect()}
    assert out["a.com"].flagged == 1 and out["a.com"].recip_deg == 1
    assert out["b.com"].flagged == 1
    assert out["x.com"].flagged == 0 and out["x.com"].out_deg == 2
    # y has out_deg 1 < min_out: judged clean even at 0% reciprocity
    assert out["y.com"].flagged == 0
    assert "z.com" not in out          # only a self-loop: no degree


def test_linkfarm_hosts_min_out_evidence_floor(spark):
    # a single reciprocated edge is 100% reciprocity but min_out=2
    # keeps the host unflagged — thin evidence never blocks
    edges = spark.createDataFrame(
        [("a.com", "b.com", 1), ("b.com", "a.com", 1)],
        "src_host string, dst_host string, weight long",
    )
    out = {r.host: r for r in
           linkgraph.linkfarm_hosts(edges, min_out=2).collect()}
    assert out["a.com"].flagged == 0 and out["a.com"].recip_deg == 1


def test_hits_hub_vs_authority_separation(spark):
    from hepcrawl_spark.frontier import linkgraph

    # star: hub host "s" links to 3 targets; "t1" also gets a link
    # from "u" — t1 is the top authority, s the top hub
    edges = spark.createDataFrame(
        [("s", "t1", 2), ("s", "t2", 1), ("s", "t3", 1), ("u", "t1", 1)],
        "src_host string, dst_host string, weight long",
    )
    r = {x.host: x for x in linkgraph.hits_hosts(edges, iterations=5)
         .collect()}
    assert r["s"].hub == max(v.hub for v in r.values())
    assert r["t1"].authority == max(v.authority for v in r.values())
    # pure targets are not hubs; pure sources are not authorities
    assert r["t2"].hub == 0.0 and r["s"].authority == 0.0
    # L1 normalization: both score vectors sum to 1
    assert abs(sum(v.hub for v in r.values()) - 1.0) < 1e-9
    assert abs(sum(v.authority for v in r.values()) - 1.0) < 1e-9


def test_focused_priority_end_to_end_from_anchors(spark):
    # the real f22 -> f31 composition: extract anchors from HTML,
    # aggregate the per-target profile, rank by topic relevance —
    # the neutrino page must outrank the recipe page, and the page
    # with no topical anchors gets no row (default-band fallback)
    html = (
        '<a href="http://t.com/nu">neutrino detector results</a>'
        '<a href="http://t.com/nu">neutrino flux</a>'
        '<a href="http://t.com/pie">grandma pie recipe</a>'
        '<a href="http://t.com/misc">click here</a>'
    )
    pages = spark.createDataFrame(
        [("http://src.com/a", bytearray(html.encode()))],
        "url string, html binary",
    )
    anchors = linkgraph.extract_anchors(pages)
    profiles = linkgraph.anchor_text_summary(anchors).select(
        "dst_url",
        F.col("top_text").alias("anchor_text"),
    )
    ranked = linkgraph.focused_priority(
        profiles, ["neutrino", "detector"]).collect()
    assert [r.url for r in ranked] == ["http://t.com/nu"]
    assert ranked[0].priority == 1


def _py_trustrank(edges, seeds, iters=5, d=0.85):
    hosts = sorted({e[0] for e in edges} | {e[1] for e in edges})
    wout = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0) + w
    present = [h for h in hosts if h in seeds]
    t = {h: (1.0 / len(present) if h in present else 0.0) for h in hosts}
    r = dict(t)
    for _ in range(iters):
        dang = sum(r[h] for h in hosts if h not in wout)
        contrib = {h: 0.0 for h in hosts}
        for s, dst, w in edges:
            contrib[dst] += r[s] * w / wout[s]
        r = {h: (1 - d) * t[h] + d * (contrib[h] + dang * t[h])
             for h in hosts}
    return r


def test_trustrank_matches_python_mirror(spark):
    edges = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, weight long")
    seeds = [EDGES[0][0]]
    got = {r.host: r.trust for r in linkgraph.trustrank_hosts(
        edges, seeds, iterations=5).collect()}
    want = _py_trustrank(EDGES, set(seeds), iters=5)
    assert set(got) == set(want)
    for h in want:
        assert got[h] == pytest.approx(want[h], rel=1e-9, abs=1e-12), h


def test_trustrank_starves_unendorsed_spam_farm(spark):
    # good: seed -> a -> b (endorsed chain); spam: s1 <-> s2 inflate
    # each other with heavy weights but receive NO trusted in-link —
    # plain PageRank rewards the farm, TrustRank must give it zero
    rows = [
        ("seed", "a", 1), ("a", "b", 1),
        ("s1", "s2", 50), ("s2", "s1", 50),
    ]
    edges = spark.createDataFrame(
        rows, "src_host string, dst_host string, weight long")
    trust = {r.host: r.trust for r in linkgraph.trustrank_hosts(
        edges, ["seed"], iterations=5).collect()}
    rank = {r.host: r.rank for r in linkgraph.pagerank_hosts(
        edges, iterations=5).collect()}
    assert trust["s1"] == 0.0 and trust["s2"] == 0.0
    assert trust["a"] > 0.0 and trust["b"] > 0.0
    assert rank["s1"] > rank["b"]  # the failure mode TrustRank fixes


def test_trustrank_rejects_absent_seed_set(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1)], "src_host string, dst_host string, weight long")
    with pytest.raises(ValueError, match="seed"):
        linkgraph.trustrank_hosts(edges, ["nope.example.com"])


def _py_opic(edges, rounds=5):
    """Independent mirror of opic_hosts' synchronous cash/history
    rounds (Abiteboul et al. 2003, uniform virtual-root shortcut)."""
    hosts = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(hosts)
    wout = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0) + w
    cash = {h: 1.0 / n for h in hosts}
    hist = {h: 0.0 for h in hosts}
    for _ in range(rounds):
        dang = sum(c for h, c in cash.items() if h not in wout)
        contrib = {h: 0.0 for h in hosts}
        for s, t, w in edges:
            contrib[t] += cash[s] * w / wout[s]
        hist = {h: hist[h] + cash[h] for h in hosts}
        cash = {h: contrib[h] + dang / n for h in hosts}
    return cash, hist


def test_opic_matches_python_mirror(spark):
    edges = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, weight long")
    got = {r.host: r for r in linkgraph.opic_hosts(edges, rounds=5).collect()}
    cash, hist = _py_opic(EDGES, rounds=5)
    assert set(got) == set(cash)
    for h in cash:
        assert got[h].cash == pytest.approx(cash[h], rel=1e-9), h
        assert got[h].hist == pytest.approx(hist[h], rel=1e-9), h
        assert got[h].importance == pytest.approx(
            (hist[h] + cash[h]) / 6.0, rel=1e-9), h


def test_opic_cash_conservation_and_importance_sums_to_one(spark):
    # total cash is 1 after every round (the dangling recycle never
    # leaks mass), so hist totals `rounds` and importance sums to 1
    edges = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, weight long")
    got = linkgraph.opic_hosts(edges, rounds=4).collect()
    assert sum(r.cash for r in got) == pytest.approx(1.0, abs=1e-9)
    assert sum(r.hist for r in got) == pytest.approx(4.0, abs=1e-9)
    assert sum(r.importance for r in got) == pytest.approx(1.0, abs=1e-9)


def test_opic_importance_tracks_pagerank_order(spark):
    # same edges, two estimators: OPIC's refining estimate must agree
    # with PageRank on the host ordering (a > c > b > d on EDGES —
    # verified against both python mirrors)
    edges = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, weight long")
    opic = {r.host: r.importance
            for r in linkgraph.opic_hosts(edges, rounds=5).collect()}
    pr = _py_pagerank(EDGES, iters=5)
    assert (sorted(opic, key=opic.get, reverse=True)
            == sorted(pr, key=pr.get, reverse=True)
            == ["a", "c", "b", "d"])


def test_f35_registered():
    import __spark_entry__ as e
    assert "f35_opic" in e.queries()
    assert "f35_opic" in e.oracle_sql()


def test_extract_canonicals_both_orders_and_quotes(spark):
    from hepcrawl_spark.frontier.canonical import extract_canonicals

    pages = _pages(spark, [
        ("http://a/1", '<link rel="canonical" href="http://a/c1">'),
        ("http://a/2", "<link href='http://a/c2' rel='canonical'>"),
        ("http://a/3", '<link rel="stylesheet" href="http://a/nope">'),
        ("http://a/4", "<p>no link</p>"),
    ])
    got = {r.url: r.canonical for r in extract_canonicals(pages).collect()}
    assert got["http://a/1"] == "http://a/c1"
    assert got["http://a/2"] == "http://a/c2"
    assert got["http://a/3"] is None       # rel must be canonical
    assert got["http://a/4"] is None
    plan = (extract_canonicals(pages)
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_collapse_canonicals_chain_and_cycle(spark):
    from hepcrawl_spark.frontier.canonical import collapse_canonicals

    link = '<link rel="canonical" href="%s">'
    pages = _pages(spark, [
        ("http://x/a", link % "http://x/b"),   # a -> b -> c (2 hops)
        ("http://x/b", link % "http://x/c"),
        ("http://x/c", "<p>terminal</p>"),
        ("http://x/p", link % "http://x/q"),   # p <-> q cycle
        ("http://x/q", link % "http://x/p"),
        ("http://x/z", link % "http://x/z"),   # explicit self-claim
    ])
    got = {r.url: r for r in collapse_canonicals(pages).collect()}
    assert got["http://x/a"].canonical_url == "http://x/c"
    assert got["http://x/a"].hops == 2 and got["http://x/a"].collapsed
    assert got["http://x/b"].canonical_url == "http://x/c"
    assert got["http://x/c"].canonical_url == "http://x/c"
    assert got["http://x/c"].hops == 0 and not got["http://x/c"].collapsed
    # cycle members fall back to SELF — never dropped, never grouped
    for u in ("http://x/p", "http://x/q"):
        assert got[u].canonical_url == u and not got[u].collapsed
    assert got["http://x/z"].canonical_url == "http://x/z"


def test_f38_registered():
    import __spark_entry__ as e
    assert "f38_canonical_collapse" in e.queries()
    assert "f38_canonical_collapse" in e.oracle_sql()
