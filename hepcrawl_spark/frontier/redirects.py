"""Redirect-chain resolution for the frontier (HTTP 3xx graph).

The reference resolves redirects one URL at a time inside the fetch:
``requests.head(url, allow_redirects=True)``
(/root/reference/hepcrawl/utils.py:158) walks the whole chain
serially per call.  A 10^10-URL frontier instead sees redirects as a
crawl OUTPUT table — ``(url, redirect_to)`` edges from every 3xx
response — and must resolve all chains set-at-a-time so the seen
filter, politeness queue and dedup all key on the FINAL location
(otherwise every hop of a chain is crawled, queued and stored as a
distinct page).

``resolve_redirects`` runs pointer doubling over the edge table: each
round composes the mapping with itself (``m[u] <- m[m[u]]``), so a
chain of length L resolves in ceil(log2(L)) equi-joins instead of L
sequential lookups.  Rows whose current target has no outgoing edge
are final; rows still unresolved after the round budget (cycles, or
chains longer than ``max_hops``) surface with ``resolved=false`` and
NULL ``final_url``/``hops`` rather than a doubling artifact.

100 TB shape: every round is ONE equi-join of the mapping with a
projection of itself plus a codegen select — no window, no Python,
no driver-side iteration over rows.  The mapping never grows (one
row per redirecting URL); real redirect chains are short (browsers
cap around 20, crawlers at 5-10), so ``max_hops=8`` costs 4 joins
total regardless of frontier size.  The rounds run through
``lifetimes.fixpoint``, which checkpoints each round's mapping eagerly
and releases the one it supersedes, like ``linkgraph.pagerank_hosts``;
the final checkpoint goes into the caller's ``caches``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lifetimes import fixpoint


def _double(m: DataFrame, _scratch) -> DataFrame:
    """One pointer-doubling round over ``(url, final_url, hops,
    resolved)``: ``m[u] <- m[m[u]]``."""
    nxt = m.select(
        F.col("url").alias("_src"),
        F.col("final_url").alias("_dst"),
        F.col("hops").alias("_h"),
    )
    return (
        m.join(nxt, m["final_url"] == nxt["_src"], "left")
        .select(
            "url",
            F.coalesce(F.col("_dst"), F.col("final_url"))
            .alias("final_url"),
            (F.col("hops") + F.coalesce(F.col("_h"), F.lit(0)))
            .alias("hops"),
            # resolved rows never rejoin: their final_url has no
            # outgoing edge by construction, so the left join misses
            # and the flag is idempotent
            (F.col("resolved") | F.col("_src").isNull())
            .alias("resolved"),
        )
    )


def resolve_redirects(
    edges: DataFrame,
    max_hops: int = 8,
    url_col: str = "url",
    target_col: str = "redirect_to",
    *,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Resolve every redirect chain to its final location.

    ``edges``: one row per redirecting URL — ``(url, redirect_to)``.
    URLs that never appear in ``url`` are terminal pages.

    Returns one row per input URL: ``url, final_url, hops, resolved``.
    The verdict is deterministic: ``resolved=true`` exactly when the
    chain is acyclic and at most ``max_hops`` long; cycles and longer
    chains get ``resolved=false`` with NULL ``final_url``/``hops``
    (the doubling budget reaches at least ``2*max_hops``, and the
    final gate re-checks ``hops <= max_hops``, so the outcome never
    depends on where the round budget happened to stop).  The result
    reads the final round's checkpoint, which goes into ``caches``.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    m = edges.select(
        F.col(url_col).alias("url"),
        F.col(target_col).alias("final_url"),
        F.lit(1).cast("long").alias("hops"),
        F.lit(False).alias("resolved"),
    )
    # +1 round: `resolved` is learned one round AFTER a chain's final
    # target first appears (the round whose join comes up empty), so
    # the flag needs one settling round past the doubling budget.
    rounds = max(1, math.ceil(math.log2(max_hops))) + 1
    m = fixpoint(m, _double, rounds, caches=caches)
    ok = F.col("resolved") & (F.col("hops") <= F.lit(int(max_hops)))
    return m.select(
        "url",
        F.when(ok, F.col("final_url")).alias("final_url"),
        F.when(ok, F.col("hops")).cast("long").alias("hops"),
        ok.alias("resolved"),
    )
