"""Output checks for one crawl, run after its timer stops.

Everything is compared with the generator's expectations:

* every record is byte-identical (title and abstract) to the page's;
* no URL is scheduled twice, and every scheduled URL is reachable;
* the scheduled set equals the expected one: every reachable URL for a
  crawl without a horizon, the generator's politeness schedule for one
  with a horizon.  An expected URL never scheduled counts as ``missed``;
* every error row is one the generator planted (a fetch miss on a URL
  absent from the corpus, or an extraction error on a routed page);
* the URL funnel reconciles: queue = url-filtered + robots-blocked +
  seen-dropped + scheduled + deferred, each term equal to the
  generator's breadth-first replay.  Seen-dropped is the one term the
  crawl does not report; it is what the other four leave of the queue.
  Since scheduled must match exactly too, a reachable URL the seen gate
  wrongly drops fails the funnel as well as counting as ``missed``.

A failing check never raises: it is counted and reported.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List

from pyspark.sql import functions as F

FUNNEL = ("url_filtered", "robots_blocked", "seen_dropped", "scheduled", "deferred")


def funnel(store, totals: Dict, n_seeds: int, seq_block: int) -> Dict[str, int]:
    """The crawl's URL funnel from ``run_crawl`` totals plus the store's
    per-round queue tables (the queue round k+1 starts from)."""
    rounds = totals["rounds"]
    queue = n_seeds
    deferred = 0
    for k in range(rounds):
        rows = store.read_table(k, "queue")
        if rows is None:
            continue
        # a deferred row keeps its old seq; round k's children are
        # numbered from (k + 1) * seq_block
        stats = rows.agg(
            F.count("*").alias("n"),
            F.sum((F.col("seq") < (k + 1) * seq_block).cast("long")).alias("d"),
        ).first()
        deferred += int(stats.d or 0)
        if k + 1 < rounds:
            queue += int(stats.n)
    out = {
        "queue": queue,
        "url_filtered": totals["url_filtered"],
        "robots_blocked": totals["blocked"],
        "scheduled": totals["scheduled"],
        "deferred": deferred,
    }
    out["seen_dropped"] = queue - sum(out[k] for k in FUNNEL if k != "seen_dropped")
    return out


def check_crawl(store, totals: Dict, expect: Dict, n_seeds: int,
                seq_block: int) -> Dict:
    """All output checks for one finished crawl."""
    got = funnel(store, totals, n_seeds, seq_block)
    want = expect["funnel"]
    funnel_ok = all(got[k] == want[k] for k in ("queue",) + FUNNEL)

    records = [
        (r.url, r.title, r.abstract)
        for r in store.all_records().select("url", "title", "abstract").collect()
    ]
    errors = [(r.url, r.error) for r in store.all_errors().select("url", "error").collect()]
    per_url = Counter([u for u, *_ in records] + [u for u, _ in errors])
    reachable = set(expect["reachable"])
    planted_miss = set(expect["planted_miss"])
    planted_error = set(expect["planted_error"])
    want_records = expect["records"]

    got_urls = set(per_url)
    want_urls = set(expect.get("scheduled", expect["reachable"]))
    failed = Counter()
    for url, n in per_url.items():
        if n > 1:
            failed["scheduled_twice"] += n - 1
    failed["unreachable"] = len(got_urls - reachable)
    failed["off_schedule"] = len((got_urls & reachable) - want_urls)
    failed["missed"] = len(want_urls - got_urls)
    for url, title, abstract in records:
        if want_records.get(url) != [title, abstract]:
            failed["record_mismatch"] += 1
    for url, err in errors:
        planted = (
            (url in planted_miss and err.startswith("FetchMiss"))
            or (url in planted_error and "no extractor" in err)
        )
        if not planted:
            failed["unplanted_error"] += 1
    n_failed = sum(failed.values())
    return {
        "ok": funnel_ok and n_failed == 0 and len(per_url) == got["scheduled"],
        "funnel": got,
        "funnel_expected": want,
        "funnel_ok": funnel_ok,
        "missed": failed["missed"],
        "failed": n_failed,
        "failed_by_kind": {k: v for k, v in failed.items() if v},
        # the pages the crawl should schedule, so a gate that drops
        # pages cannot shrink the denominator
        "attempted": max(1, want["scheduled"]),
        "failed_frac": n_failed / max(1, want["scheduled"]),
        "scheduled": got["scheduled"],
        "records": len(records),
        "errors": len(errors),
        # fetched and extracted: html-generic emits one record per page
        "pages": len(records),
    }


def sorted_records(store) -> List[str]:
    """Every committed record, all columns, as sorted JSON lines."""
    return sorted(store.all_records().toJSON().collect())
