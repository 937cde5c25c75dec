"""Robots gating (F5).

The reference never enables robots (Scrapy default off — no
ROBOTSTXT_OBEY in /root/reference/hepcrawl/settings.py), so parity mode
uses an empty/allow-all table and this gate is an identity.  The
engine-mode gate is a broadcast join of the frontier against a
host-keyed rules table + a prefix filter — host tables are tiny
relative to the frontier, so this never shuffles the frontier.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def robots_filter(
    candidates: DataFrame, robots: Optional[DataFrame]
) -> Tuple[DataFrame, DataFrame]:
    """(allowed, blocked): ``robots_verdict`` split on its column."""
    verdict = robots_verdict(candidates, robots)
    blocked = F.col("robots_blocked")
    return (verdict.filter(~blocked).drop("robots_blocked"),
            verdict.filter(blocked).drop("robots_blocked"))


def robots_verdict(candidates: DataFrame,
                   robots: Optional[DataFrame]) -> DataFrame:
    """``candidates`` plus a boolean ``robots_blocked`` column (always
    false without a ``robots`` table).  ``robots`` columns: url_host,
    disallow_prefixes array<string>, optionally allow_prefixes
    array<string>, crawl_delay double (nullable).

    With ``allow_prefixes`` present the verdict is RFC 9309 §2.2.2
    longest-match: a URL is blocked iff its longest matching
    Disallow prefix is strictly longer than its longest matching
    Allow prefix (no match counts as length −1, so a tie — including
    the no-rules case — is least-restrictive: allow).  Without the
    column the old pure prefix-blocklist semantics apply unchanged
    (equivalent to an empty Allow set).  Either way the rule tables
    are host-cardinality broadcasts and the match is a codegen
    higher-order fold — the frontier never shuffles.
    """
    if robots is None:
        return candidates.withColumn("robots_blocked", F.lit(False))
    has_allow = "allow_prefixes" in robots.columns
    cols = ["url_host", "disallow_prefixes"] + (
        ["allow_prefixes"] if has_allow else []
    )
    joined = candidates.join(
        F.broadcast(robots.select(*cols)), on="url_host", how="left"
    )
    path = F.coalesce(
        F.parse_url(F.col("canon_url"), F.lit("PATH")), F.lit("/")
    )

    def _longest(prefixes: str) -> "F.Column":
        return F.when(
            F.col(prefixes).isNull(), F.lit(-1)
        ).otherwise(
            F.coalesce(
                F.array_max(
                    F.transform(
                        F.filter(F.col(prefixes),
                                 lambda p: path.startswith(p)),
                        F.length,
                    )
                ),
                F.lit(-1),
            )
        )

    maxd = _longest("disallow_prefixes")
    maxa = _longest("allow_prefixes") if has_allow else F.lit(-1)
    return joined.withColumn("robots_blocked", maxd > maxa).drop(*cols[1:])


def effective_politeness(
    politeness: Optional[DataFrame], robots: Optional[DataFrame]
) -> Optional[DataFrame]:
    """Robots ``Crawl-delay`` overrides the per-host budget's delay when
    larger (conservative merge)."""
    if robots is None or politeness is None:
        return politeness
    merged = politeness.join(
        robots.select("url_host", F.col("crawl_delay").alias("_robots_delay")),
        on="url_host",
        how="left",
    )
    return merged.select(
        "url_host",
        F.greatest(
            F.col("download_delay"), F.coalesce("_robots_delay", F.lit(0.0))
        ).alias("download_delay"),
        "max_per_host",
    )
