"""Link-graph extraction and host-authority ranking for the frontier.

The reference crawler schedules per-source spiders off a static seed
list (hepcrawl/spiders/*.py ``start_urls`` / ``start_requests``); at
10^10-URL-frontier scale the scheduler additionally needs a
cross-host priority signal so politeness budget flows to hosts the
crawl itself proves are central.  This module derives that signal
from crawl output alone:

- ``extract_outlinks`` parses ``href`` targets out of fetched HTML
  entirely JVM-side (``regexp_extract_all`` over the decoded binary +
  ``parse_url`` for the target host — no Python in the hot path, the
  whole map stays inside whole-stage codegen);
- ``host_graph`` collapses the URL-level links to an integer-weighted
  ``src_host -> dst_host`` edge table (one shuffle, map-side partial
  counts; integer weights keep every downstream mirror exact);
- ``pagerank_hosts`` runs a fixed-iteration damped PageRank over that
  edge table with uniform dangling-mass redistribution.

100 TB design: the edge table is many orders of magnitude smaller
than the pages scan (hosts, not URLs), so the iteration loop touches
only host-cardinality frames.  Each iteration is one shuffle join
(edges x ranks on src_host) plus one aggregation (on dst_host); the
edge side is hash-partitioned once on src_host and reused across all
iterations so only the small rank side moves.  The dangling mass is
carried as a broadcast 1-row aggregate — no driver-side collect inside
the loop.  Every iterative operator here loops through
``lifetimes.fixpoint`` (eager per-iteration checkpoints, each
superseded one released), frees its loop-wide frames before returning,
and puts the final checkpoint into the caller's ``caches`` list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lifetimes import fixpoint, persist, release

# href="..." with either quote style; group 1/2 = the target.  The
# reference extracts link targets with scrapy Selector xpaths
# (e.g. hepcrawl/spiders/wsp_spider.py response.xpath('//a/@href'));
# a regexp over the raw bytes is the codegen-friendly equivalent for
# the well-formed synthesized corpus and for WARC-scale HTML where a
# full DOM parse per page would dominate the scan.
_HREF_RE = r'href=(?:"([^"]*)"|\'([^\']*)\')'


def extract_outlinks(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """URL-level outlink table: (src_url, src_host, dst_url, dst_host).

    Pure JVM plan: decode -> regexp_extract_all -> explode ->
    parse_url.  Relative and non-http(s) targets are dropped (the
    frontier's url_filter re-checks schemes for anything enqueued).
    """
    hrefs = F.regexp_extract_all(
        F.decode(F.col(html_col), "UTF-8"), F.lit(_HREF_RE), F.lit(0)
    )
    # regexp_extract_all with group 0 returns the full match; strip the
    # attribute prefix and quotes JVM-side rather than re-matching.
    target = F.regexp_replace(
        F.regexp_replace(F.col("href_raw"), r'^href=["\']', ""),
        r'["\']$', "",
    )
    return (
        pages
        .select(
            F.col(url_col).alias("src_url"),
            F.parse_url(F.col(url_col), F.lit("HOST")).alias("src_host"),
            F.explode(hrefs).alias("href_raw"),
        )
        .withColumn("dst_url", target)
        .where(F.col("dst_url").rlike(r"^https?://"))
        .withColumn("dst_host", F.parse_url(F.col("dst_url"), F.lit("HOST")))
        .where(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .drop("href_raw")
    )


def host_graph(links: DataFrame) -> DataFrame:
    """Integer-weighted host->host edge table from URL-level links.

    weight = number of (src page, anchor) link instances between the
    two hosts — BIGINT, so aggregations over it stay exact on any
    engine and in any order.
    """
    return (
        links.groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _host_frames(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(hosts, contrib_edges) for the mass-flow ranks below.

    ``hosts`` is the node set flagged ONCE with ``has_out``, so the
    per-iteration dangling mass is a filter + 1-row agg over the score
    frame — never a membership join inside the loop.
    ``contrib_edges`` is the (edge ⋈ out-weight) side partitioned once
    on src_host; kept resident, every iteration joins the small score
    frame against this layout, so only scores shuffle per iteration.
    """
    out_w = edges.groupBy("src_host").agg(
        F.sum("weight").cast("double").alias("wout")
    )
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .join(out_w.select(F.col("src_host").alias("host"),
                           F.lit(True).alias("has_out")),
              on="host", how="left")
        .withColumn("has_out", F.coalesce("has_out", F.lit(False)))
    )
    return hosts, edges.join(out_w, "src_host").repartition("src_host")


def _flow(contrib_edges: DataFrame, state: DataFrame,
          score: str) -> tuple[DataFrame, DataFrame]:
    """One iteration's flow of ``score`` along the weighted out-edges:
    (per-dst_host ``contrib``, 1-row ``dangling`` mass of the hosts
    without outlinks)."""
    dangling = (
        state.filter(~F.col("has_out"))
        .agg(F.coalesce(F.sum(score), F.lit(0.0)).alias("dangling"))
    )
    contrib = (
        contrib_edges
        .join(state.select(F.col("host").alias("src_host"), F.col(score)),
              "src_host")
        .groupBy("dst_host")
        .agg(F.sum(F.col(score) * F.col("weight") / F.col("wout"))
             .alias("contrib"))
    )
    return contrib, dangling


def pagerank_hosts(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    *,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Damped PageRank over a weighted host graph -> (host, rank).

    rank_{k+1}(h) = (1-d)/N + d * (sum_{s->h} rank_k(s) * w(s,h)/W(s)
                                   + dangling_k / N)

    where W(s) is s's total out-weight and dangling_k is the rank mass
    on hosts with no outlinks, redistributed uniformly.  N is the size
    of the node set (union of sources and targets).  Deterministic
    given the edge table: integer weights, fixed iteration count, and
    the same fold expression the DuckDB mirror unrolls.  The result
    reads the final checkpoint, which goes into ``caches``.
    """
    hosts, contrib_edges = _host_frames(edges)
    hosts = hosts.persist()
    n = hosts.count()  # one scalar agg over a host-cardinality frame
    if n == 0:
        release([hosts])
        return hosts.select("host", F.lit(0.0).alias("rank"))
    contrib_edges = contrib_edges.persist()

    def step(ranks: DataFrame, _scratch) -> DataFrame:
        contrib, dangling = _flow(contrib_edges, ranks, "rank")
        return (
            hosts
            .join(contrib, hosts["host"] == contrib["dst_host"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                hosts["host"],
                hosts["has_out"],
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0))
                       + F.col("dangling") / F.lit(float(n)))
                ).alias("rank"),
            )
        )

    ranks = fixpoint(
        hosts.select("host", "has_out", F.lit(1.0 / n).alias("rank")),
        step, iterations, caches=caches,
    )
    release([hosts, contrib_edges])
    return ranks.select("host", "rank")


def trustrank_hosts(
    edges: DataFrame,
    seeds: list[str],
    damping: float = 0.85,
    iterations: int = 5,
    *,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004) over a
    weighted host graph -> (host, trust): personalized PageRank whose
    teleport vector is uniform over a hand-vetted seed set, so trust
    decays with link distance from the seeds and spam farms that
    manufacture rank among themselves (which plain PageRank rewards —
    see ``pagerank_hosts``) get none unless a trusted host links in.
    The frontier uses it as the anti-spam half of host priority: f09
    ranks centrality, this ranks *endorsed* centrality.

    trust_{k+1}(h) = (1-d)·t(h) + d·(Σ_{s→h} trust_k(s)·w(s,h)/W(s)
                                     + dangling_k·t(h))

    with t uniform over the seed hosts present in the node set and
    dangling mass redistributed to the seeds (not uniformly — mass
    must never leak to unendorsed hosts), trust_0 = t.  Deterministic:
    integer weights, fixed iteration count, same fold expression the
    DuckDB mirror unrolls.  Raises when no seed is in the graph (an
    all-zero result would silently disable the anti-spam gate).

    100 TB shape: identical to ``pagerank_hosts`` — the loop touches
    only host-cardinality frames, the (edge ⋈ out-weight) side is
    partitioned once on src_host and stays resident so only the small
    trust frame shuffles per iteration, the seed flag is a plan
    literal (no membership join), and dangling mass rides a broadcast
    1-row aggregate.  The final checkpoint goes into ``caches``.
    """
    hosts, contrib_edges = _host_frames(edges)
    hosts = hosts.withColumn("is_seed", F.col("host").isin(*seeds)).persist()
    n_seeds = hosts.filter("is_seed").count()
    if n_seeds == 0:
        release([hosts])
        raise ValueError(
            f"none of the {len(seeds)} seed hosts appear in the link "
            "graph — TrustRank would be identically zero"
        )
    t = F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    contrib_edges = contrib_edges.persist()

    def step(ranks: DataFrame, _scratch) -> DataFrame:
        contrib, dangling = _flow(contrib_edges, ranks, "trust")
        return (
            hosts
            .join(contrib, hosts["host"] == contrib["dst_host"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                hosts["host"],
                hosts["has_out"],
                hosts["is_seed"],
                (
                    F.lit(1.0 - damping) * t
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0))
                       + F.col("dangling") * t)
                ).alias("trust"),
            )
        )

    ranks = fixpoint(
        hosts.select("host", "has_out", "is_seed", t.alias("trust")),
        step, iterations, caches=caches,
    )
    release([hosts, contrib_edges])
    return ranks.select("host", "trust")


def opic_hosts(
    edges: DataFrame,
    rounds: int = 5,
    *,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """OPIC (Abiteboul, Preda & Cobéna, WWW 2003) over a weighted host
    graph -> (host, cash, hist, importance) — the On-line Page
    Importance Computation that Nutch ships as its default crawl
    scoring.  Unlike PageRank (``pagerank_hosts``), OPIC needs no
    damping factor and no convergence test: every node holds *cash*;
    processing a node banks its cash into *history* and forwards it
    equally-per-weight along its outlinks, so importance estimates are
    available (and monotonically refining) while the crawl is still
    running — exactly the property an in-flight frontier wants.

    This is the synchronous batch variant: each round processes EVERY
    node once —

        hist_{k+1}(h) = hist_k(h) + cash_k(h)
        cash_{k+1}(h) = Σ_{s→h} cash_k(s)·w(s,h)/W(s) + dangling_k/N

    with the cash of outlink-less hosts (the paper's virtual-root
    shortcut) redistributed uniformly, cash_0 = 1/N, hist_0 = 0.
    Total cash stays 1 per round, so after K rounds
    ``importance = (hist + cash) / (K + 1)`` sums to 1 — the paper's
    ``H/|H|`` estimator including the still-circulating cash.
    Deterministic given the edge table: integer weights, fixed round
    count, same fold expression the DuckDB mirror unrolls.

    100 TB shape: identical to ``pagerank_hosts`` — the loop touches
    only host-cardinality frames; the (edge ⋈ out-weight) side is
    hash-partitioned once on src_host and kept resident so only the
    small (cash, hist) frame shuffles per round; dangling cash rides a
    broadcast 1-row aggregate; each round's state is checkpointed by
    ``lifetimes.fixpoint`` and the final checkpoint goes into
    ``caches``.
    """
    hosts, contrib_edges = _host_frames(edges)
    hosts = hosts.persist()
    n = hosts.count()
    if n == 0:
        release([hosts])
        return hosts.select(
            "host", F.lit(0.0).alias("cash"), F.lit(0.0).alias("hist"),
            F.lit(0.0).alias("importance"),
        )
    contrib_edges = contrib_edges.persist()

    def step(state: DataFrame, _scratch) -> DataFrame:
        contrib, dangling = _flow(contrib_edges, state, "cash")
        return (
            state
            .join(contrib, state["host"] == contrib["dst_host"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                state["host"],
                state["has_out"],
                (
                    F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.col("dangling") / F.lit(float(n))
                ).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
        )

    state = fixpoint(
        hosts.select(
            "host", "has_out",
            F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist"),
        ),
        step, rounds, caches=caches,
    )
    release([hosts, contrib_edges])
    return state.select(
        "host", "cash", "hist",
        ((F.col("hist") + F.col("cash")) / F.lit(float(rounds + 1)))
        .alias("importance"),
    )


def rank_priorities(ranks: DataFrame, levels: int = 100) -> DataFrame:
    """Quantize PageRank scores to the integer host-priority dimension
    ``schedule(host_priorities=...)`` consumes.

    (host, rank) -> (url_host, host_priority) with
    ``host_priority = floor(rank / max(rank) * levels)`` — the top
    host gets ``levels``, hosts scale linearly below it.  Integer so
    the scheduler's sort keys stay exact; the max rides a broadcast
    1-row aggregate.
    """
    mx = ranks.agg(F.max("rank").alias("_mx"))
    return (
        ranks.crossJoin(F.broadcast(mx))
        .select(
            F.col("host").alias("url_host"),
            F.floor(F.col("rank") / F.col("_mx") * levels)
            .cast("long").alias("host_priority"),
        )
    )


def hop_distance(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int = 8,
    *,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Minimum link distance from any seed host -> (host, hops).

    The breadth-first counterpart of ``pagerank_hosts``: the crawl
    planner budgets politeness and recrawl priority by how far a host
    sits from the seed list (the reference's crawls are all depth-
    bounded off ``start_urls``; at frontier scale the bound must be a
    per-host number, not a per-request counter).  Fixed ``max_hops``
    relaxation rounds — deterministic and exactly unrollable by the
    DuckDB mirror; hosts not reached within the bound are absent from
    the result (their budget is the crawl's default).

    100 TB shape: all frames are host-cardinality, never URL-
    cardinality.  The deduplicated forward-edge table is partitioned
    once on ``src_host`` and reused every round, so only the small
    distance frame shuffles per round; each round is one join + one
    min-aggregation (both partial-agg-able, skew-safe: min combines
    map-side), checkpointed every round by ``lifetimes.fixpoint`` like
    the PageRank loop above; the final checkpoint goes into ``caches``.
    """
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    dist = hosts.where(F.col("host").isin(list(seeds))).select(
        "host", F.lit(0).cast("int").alias("hops")
    )
    fwd = (
        edges.select("src_host", "dst_host").distinct()
        .repartition("src_host")
        .persist()
    )

    def step(dist: DataFrame, _scratch) -> DataFrame:
        nxt = dist.join(
            fwd, dist["host"] == fwd["src_host"]
        ).select(
            F.col("dst_host").alias("host"),
            (F.col("hops") + 1).cast("int").alias("hops"),
        )
        return (
            dist.unionByName(nxt)
            .groupBy("host")
            .agg(F.min("hops").alias("hops"))
        )

    dist = fixpoint(dist, step, max_hops, caches=caches)
    release([fwd])
    return dist


# ---------------------------------------------------------------------------
# Anchor-text aggregation (inbound link text per target URL)
# ---------------------------------------------------------------------------

# full <a> element with either quote style and a text body free of
# nested elements; groups: 1/2 = target (per quote style), 3 = text
_ANCHOR_RE = r'<a href=(?:"([^"]*)"|\'([^\']*)\')>([^<]*)</a>'


def extract_anchors(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Anchor table: (src_url, src_host, dst_url, dst_host,
    anchor_text) — one row per absolute-http(s) ``<a>`` element.

    Same pure-JVM shape as :func:`extract_outlinks` (decode ->
    regexp_extract_all -> explode -> per-group regexp_extract), plus
    the element's text body.  Anchor text is whitespace-collapsed and
    edge-trimmed with the explicit contract class (textops.WS_CLASS
    semantics) so the value is regex-engine-portable.
    """
    elems = F.regexp_extract_all(
        F.decode(F.col(html_col), "UTF-8"), F.lit(_ANCHOR_RE), F.lit(0)
    )
    g = lambda n: F.regexp_extract(F.col("_a"), _ANCHOR_RE, n)  # noqa: E731
    dst = F.when(g(1) != "", g(1)).otherwise(g(2))
    text = F.regexp_replace(
        F.regexp_replace(g(3), "[ \\t\\n\\f\\r]+", " "),
        "^ | $", "",
    )
    return (
        pages
        .select(
            F.col(url_col).alias("src_url"),
            F.parse_url(F.col(url_col), F.lit("HOST")).alias("src_host"),
            F.explode(elems).alias("_a"),
        )
        .withColumn("dst_url", dst)
        .withColumn("anchor_text", text)
        .where(F.col("dst_url").rlike(r"^https?://"))
        .withColumn("dst_host", F.parse_url(F.col("dst_url"), F.lit("HOST")))
        .where(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .drop("_a")
    )


def anchor_text_summary(anchors: DataFrame) -> DataFrame:
    """Per-target anchor-text profile: ``dst_url, anchors,
    distinct_texts, top_text, top_text_cnt``.

    The inbound anchor text of a URL is the web's own description of
    it — the classic ranking signal and, for an LLM corpus, the
    document-title surrogate attached at crawl time.  Top text
    resolves ties (count DESC, text ASC) through the same window-free
    ``min_by`` argmax as ``urlfilter.detect_traps``: the (dst, text)
    rollup partial-aggregates map-side, so a URL with 10^7 inbound
    "click here" anchors folds to one partial per task, and the
    per-URL pass is a hash aggregate — no window sort, no join, no
    Python anywhere.
    """
    per_text = (
        anchors
        .groupBy("dst_url", "anchor_text")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = F.min_by(
        F.struct(F.col("anchor_text").alias("top_text"),
                 F.col("cnt").alias("top_text_cnt")),
        F.struct((-F.col("cnt")).alias("neg"),
                 F.col("anchor_text").alias("t")),
    )
    return (
        per_text
        .groupBy("dst_url")
        .agg(
            F.sum("cnt").cast("long").alias("anchors"),
            F.count(F.lit(1)).cast("long").alias("distinct_texts"),
            top.alias("_top"),
        )
        .select(
            "dst_url", "anchors", "distinct_texts",
            F.col("_top.top_text").alias("top_text"),
            F.col("_top.top_text_cnt").alias("top_text_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Link-farm detection (reciprocal-edge share per host)
# ---------------------------------------------------------------------------


def linkfarm_hosts(edges: DataFrame, min_out: int = 2,
                   min_recip_pct: int = 50) -> DataFrame:
    """Per-host reciprocity verdict: ``host, out_deg, recip_deg,
    flagged`` — the classic link-exchange/link-farm signal (a spam
    host's outlinks come straight back; organic hosts link mostly
    one-way).

    ``out_deg`` counts distinct out-neighbors (self-loops excluded),
    ``recip_deg`` those whose reverse edge exists, and a host is
    ``flagged`` when it has at least ``min_out`` out-neighbors AND
    more than ``min_recip_pct`` percent of them reciprocate (integer
    cross-multiplication — exact on every engine).

    Scale shape: everything runs at HOST-graph cardinality, orders of
    magnitude below page cardinality.  The reverse-edge check is a
    left-semi self-join on the (src, dst) equi-key — one shuffle of
    the deduped edge list — and both degree counts are hash
    aggregates with map-side partial folding.  No window, no Python,
    no per-page work: the page→host rollup already happened in
    :func:`host_graph`.
    """
    e = (
        edges.select("src_host", "dst_host")
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
    )
    rev = e.select(
        F.col("dst_host").alias("src_host"),
        F.col("src_host").alias("dst_host"),
    )
    recip = e.join(rev, ["src_host", "dst_host"], "left_semi")
    out_deg = e.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    recip_deg = recip.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("long").alias("recip_deg")
    )
    flagged = (
        (F.col("out_deg") >= F.lit(int(min_out)))
        & (F.col("recip_deg") * 100 > F.lit(int(min_recip_pct))
           * F.col("out_deg"))
    )
    return (
        out_deg.join(recip_deg, "src_host", "left")
        .select(
            F.col("src_host").alias("host"),
            "out_deg",
            F.coalesce(F.col("recip_deg"), F.lit(0)).cast("long")
            .alias("recip_deg"),
        )
        .withColumn("flagged", flagged.cast("int"))
    )


def hits_hosts(
    edges: DataFrame,
    iterations: int = 5,
    *,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """HITS (Kleinberg) over a weighted host graph ->
    ``(host, hub, authority)``.

    Per iteration:

        auth_{k+1}(h) = sum_{s->h} w(s,h) * hub_k(s)      then L1-norm
        hub_{k+1}(s)  = sum_{s->h} w(s,h) * auth_{k+1}(h) then L1-norm

    The frontier use: ``authority`` prioritizes hosts worth fetching
    (content endorsed by many good hubs), ``hub`` prioritizes hosts
    worth re-crawling for DISCOVERY (their outlinks find new
    authorities fast) — the complementary signal to f09's PageRank,
    which only measures endorsement.

    Scale shape mirrors ``pagerank_hosts``: the edge table is
    repartitioned on its join side ONCE and kept resident, so each
    iteration shuffles only the host-cardinality score frame; the L1
    norms ride broadcast 1-row aggregates.  ``lifetimes.fixpoint``
    checkpoints both score frames every round and the round's sum
    caches release once the next round has materialized, so lineage
    depth and recompute stay CONSTANT per iteration; the final hub and
    authority checkpoints go into ``caches``.  Deterministic given the
    edge table (integer weights, fixed iteration count, same fold the
    DuckDB mirror unrolls; cross-engine float noise is ~1e-14, far
    below the 9-decimal publication rounding).
    """
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .persist()
    )
    # one resident copy per join direction: authority sums group by
    # dst_host but join on src_host; hub sums join on dst_host
    by_src = edges.repartition("src_host").persist()
    by_dst = edges.repartition("dst_host").persist()

    def step(state, scratch: list[DataFrame]):
        scores = state[0]
        # persist the per-iteration sums: each is consumed TWICE (its
        # L1-norm broadcast and the completion join) — uncached that
        # doubles every iteration's work, and across iterations the
        # doubling compounds into the dominant cost of the whole op
        # (measured 32 s → 9 s at sf0.1 with the caches + per-round
        # eager checkpoints; arithmetic unchanged).  ``fixpoint``
        # releases them once the round's checkpoints are materialized.
        araw = persist(
            by_src.join(
                scores.select(F.col("host").alias("src_host"), "hub"),
                "src_host")
            .groupBy("dst_host")
            .agg(F.sum(F.col("hub") * F.col("weight")).alias("_a")),
            scratch,
        )
        asum = araw.agg(F.sum("_a").alias("_as"))
        auth = (
            hosts.join(araw, hosts["host"] == araw["dst_host"], "left")
            .crossJoin(F.broadcast(asum))
            .select(
                hosts["host"],
                (F.coalesce(F.col("_a"), F.lit(0.0)) / F.col("_as"))
                .alias("authority"),
            )
        )
        hraw = persist(
            by_dst.join(
                auth.select(F.col("host").alias("dst_host"), "authority"),
                "dst_host")
            .groupBy("src_host")
            .agg(F.sum(F.col("authority") * F.col("weight")).alias("_h")),
            scratch,
        )
        hsum = hraw.agg(F.sum("_h").alias("_hs"))
        scores = (
            hosts.join(hraw, hosts["host"] == hraw["src_host"], "left")
            .crossJoin(F.broadcast(hsum))
            .select(
                hosts["host"],
                (F.coalesce(F.col("_h"), F.lit(0.0)) / F.col("_hs"))
                .alias("hub"),
            )
        )
        return scores, auth

    scores, auth = fixpoint(
        (hosts.select("host", F.lit(1.0).alias("hub")), None),
        step, iterations, caches=caches,
    )
    release([hosts, by_src, by_dst])
    return scores.join(auth, "host").select("host", "hub", "authority")


def focused_priority(anchor_profiles: DataFrame,
                     topic_terms: list[str],
                     text_col: str = "anchor_text",
                     url_col: str = "dst_url") -> DataFrame:
    """Focused-crawl frontier prioritization (Chakrabarti/van den
    Berg/Dom 1999): rank candidate URLs by BM25 relevance of their
    aggregated INBOUND anchor text to a topic query — the classic
    "judge a page by what others call it" scheduling signal,
    available BEFORE the page is fetched.

    Returns (url, score, priority) with priority 1 = fetch first;
    score is rounded to 9 decimals before ranking and ties break by
    url, so the ordering is deterministic cross-engine.  Candidates
    whose anchors share no term with the topic get NO row — a real
    frontier merges this on url and falls back to its default
    priority band for misses (exactly how `schedule` consumes it).

    Scale shape: rides ``bm25_topk``'s inverted-index pattern — the
    per-profile token filter keeps the postings shuffle at
    O(topic-term hits), never O(anchor tokens); stats/df/query tables
    broadcast.  The one global rank window is the same
    TakeOrdered-style cost the scheduler's priority pass already
    pays.
    """
    from ..operators.textops import bm25_topk

    scored = bm25_topk(
        anchor_profiles, [(0, list(topic_terms))],
        k=2**62, text_col=text_col, id_col=url_col,
    )
    return scored.select(
        F.col(url_col).alias("url"), "score",
        F.col("rank").alias("priority"),
    )
