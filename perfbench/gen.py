"""Deterministic, seeded input generator for the crawl-round benchmark.

``generate(workload, seed, out_dir)`` writes the tables ``run_crawl``
receives (pages, seed queue and the optional politeness / robots
dimensions), the crawl configuration, and an expectations file the
output checks compare against.  The same (workload, seed) always
writes the same bytes.

Page text is drawn from the 31-word vocabulary of the ``documents``
table of the sf0.1 test data set (the words occur uniformly there), so
bodies look like that corpus without the benchmark reading outside its
checkout.

Workloads (see BENCHMARK.json for why each exists):

* ``crawl-deep``    layered link graph, one level per round;
* ``extract-bulk``  every page a seed, large link-free pages, one round;
* ``frontier-skew`` one round over a Zipf host mix with a mega-host,
                    half duplicates, politeness delays and a horizon.
"""

from __future__ import annotations

import json
import os
import random
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()

FORMAT = "html-generic"
SOURCE = "web"
# child URLs under this path are routed to a format with no extractor:
# the extraction errors the generator plants on purpose
ERROR_FORMAT = "perfbench-unregistered"
ERROR_ROUTE = r"/err/"
BLOCKED_DOMAIN = "tracker-blocked.net"
BLOCKED_EXTENSIONS = ("pdf", "zip")
ROBOTS_DISALLOW = "/private/"

SEED_FIELDS = [
    ("url", pa.string()), ("priority", pa.int64()), ("depth", pa.int32()),
    ("seq", pa.int64()), ("source", pa.string()), ("format", pa.string()),
]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _page(title: str, paragraphs: List[str], links: List[str]) -> Tuple[bytes, str]:
    """(html bytes, expected abstract).  The html-generic extractor
    strips tags and collapses whitespace over the whole document, so
    the abstract is the title followed by every text node in order."""
    anchors = "".join(
        f'<li><a href="{u}">link {i}</a></li>\n' for i, u in enumerate(links)
    )
    body = "".join(f"<p>{p}</p>\n" for p in paragraphs)
    html = (
        f"<html><head><title>{title}</title></head>\n<body>\n"
        f"<h1>{title}</h1>\n{body}<ul>\n{anchors}</ul>\n</body></html>\n"
    )
    texts = [title, title] + paragraphs + [f"link {i}" for i in range(len(links))]
    return html.encode("utf-8"), " ".join(" ".join(texts).split())


def _write(path: str, rows: Dict[str, list], fields) -> None:
    schema = pa.schema(fields)
    pq.write_table(pa.table(rows, schema=schema), path)


def _seed_rows(urls: List[str]) -> Dict[str, list]:
    return {
        "url": urls, "priority": [0] * len(urls), "depth": [0] * len(urls),
        "seq": list(range(len(urls))), "source": [SOURCE] * len(urls),
        "format": [FORMAT] * len(urls),
    }


def _hosts(n: int, s: float, prefix: str) -> Tuple[List[str], List[float]]:
    """``n`` host names and their Zipf(``s``) weights."""
    names = [f"www.{prefix}{i:04d}.example.org" for i in range(n)]
    return names, [1.0 / (i + 1) ** s for i in range(n)]


def _owners(rng: random.Random, hosts: List[str], weights: List[float],
            n: int) -> List[str]:
    """``n`` host draws in exact weight shares, shuffled: every seed
    gets the same host-size mix (the first host absorbs rounding)."""
    total = sum(weights)
    out = [h for h, w in zip(hosts, weights) for _ in range(max(1, int(n * w / total)))]
    out = out[:n] + [hosts[0]] * (n - len(out))
    rng.shuffle(out)
    return out


# -- crawl-deep ---------------------------------------------------------------

# share of the pages on each link level; level 0 is the seed set.  The
# crawl runs one round per level: max_depth stops expansion below the
# last level, whose links are extracted but never enqueued.
DEEP_LEVELS = (0.1, 0.9)


DEEP_PAGES = 600
DEEP_HOSTS = 40


def _crawl_deep(rng: random.Random):
    sizes = [int(round(f * DEEP_PAGES)) for f in DEEP_LEVELS]
    hosts, weights = _hosts(DEEP_HOSTS, 1.1, "deep")
    owners = iter(_owners(rng, hosts, weights, sum(sizes)))
    robots_hosts = set(hosts[1::3])
    ids = iter(range(10 ** 9))

    def new_url(host: str, kind: str = "doc") -> str:
        return f"http://{host}/{kind}/{next(ids)}.html"

    level_urls: List[List[str]] = []
    for li, size in enumerate(sizes):
        last = li == len(sizes) - 1
        # planted extraction errors sit on the last level only, so no
        # page depends on an errored parent for its discovery
        level_urls.append([
            new_url(next(owners), "err" if last and rng.random() < 0.03 else "doc")
            for _ in range(size)
        ])
    links: Dict[str, List[str]] = {u: [] for lv in level_urls for u in lv}
    # every page below level 0 gets one parent on the level above it
    for li in range(1, len(level_urls)):
        parents = [u for u in level_urls[li - 1] if "/err/" not in u]
        for u in level_urls[li]:
            links[rng.choice(parents)].append(u)
    earlier: List[str] = []
    for li, urls in enumerate(level_urls):
        nxt = level_urls[li + 1] if li + 1 < len(level_urls) else []
        earlier.extend(urls)
        for u in urls:
            if "/err/" in u:
                continue
            # about six out-links on top of the tree edge(s)
            for _ in range(6):
                r = rng.random()
                if r < 0.05:
                    v = new_url(rng.choices(hosts, weights)[0], "gone")
                elif r < 0.09:
                    v = f"http://ads{rng.randrange(50)}.{BLOCKED_DOMAIN}/c/{next(ids)}"
                elif r < 0.12:
                    v = new_url(rng.choice(hosts), "files").replace(
                        ".html", "." + rng.choice(BLOCKED_EXTENSIONS))
                elif r < 0.16:
                    v = f"http://{rng.choice(sorted(robots_hosts))}{ROBOTS_DISALLOW}{next(ids)}.html"
                elif r < 0.55 and nxt:
                    v = rng.choice(nxt)
                else:
                    v = rng.choice(earlier)
                links[u].append(v)
            rng.shuffle(links[u])

    pages, records = {"url": [], "html": []}, {}
    for u in links:
        title = _words(rng, rng.randint(4, 9)).capitalize()
        paras = [_words(rng, rng.randint(60, 110)) for _ in range(rng.randint(3, 6))]
        html, abstract = _page(title, paras, links[u])
        pages["url"].append(u)
        pages["html"].append(html)
        if "/err/" not in u:
            records[u] = [title, abstract]

    # breadth-first replay of the crawl's gates: what each round's
    # queue holds and where every entry must end up
    max_depth = len(DEEP_LEVELS) - 1
    queue, seen = list(level_urls[0]), set()
    filtered, blocked, reachable = [], [], []
    n_queue = dup = 0
    for depth in range(max_depth + 1):
        children = []
        n_queue += len(queue)
        for u in queue:
            host, path = u.split("/")[2], "/" + u.split("/", 3)[3]
            if host.endswith(BLOCKED_DOMAIN) or path.rsplit(".", 1)[-1] in BLOCKED_EXTENSIONS:
                filtered.append(u)
            elif host in robots_hosts and path.startswith(ROBOTS_DISALLOW):
                blocked.append(u)
            elif u in seen:
                dup += 1
            else:
                seen.add(u)
                reachable.append(u)
                if depth < max_depth:
                    children.extend(links.get(u, []))
        queue = children
    config = {
        "seen_mode": "cuckoo",
        "max_depth": max_depth,
        "blocked_domains": [BLOCKED_DOMAIN],
        "blocked_extensions": list(BLOCKED_EXTENSIONS),
        "child_format_routes": {ERROR_ROUTE: ERROR_FORMAT},
    }
    robots = {
        "url_host": sorted(robots_hosts),
        "disallow_prefixes": [[ROBOTS_DISALLOW]] * len(robots_hosts),
        "crawl_delay": [None] * len(robots_hosts),
    }
    expect = {
        "reachable": sorted(reachable),
        "planted_miss": sorted(u for u in reachable if u not in links),
        "planted_error": sorted(u for u in reachable if "/err/" in u),
        "url_filtered": sorted(set(filtered)),
        "robots_blocked": sorted(set(blocked)),
        "records": records,
        "funnel": {"queue": n_queue, "url_filtered": len(filtered),
                   "robots_blocked": len(blocked), "seen_dropped": dup,
                   "scheduled": len(reachable), "deferred": 0},
    }
    return pages, level_urls[0], None, robots, config, expect


# -- extract-bulk -------------------------------------------------------------

BULK_PAGES = 2500
BULK_HOSTS = 64


def _extract_bulk(rng: random.Random):
    n_pages = BULK_PAGES
    hosts, weights = _hosts(BULK_HOSTS, 0.6, "bulk")
    pages, records, seeds = {"url": [], "html": []}, {}, []
    for i, host in enumerate(_owners(rng, hosts, weights, n_pages)):
        u = f"http://{host}/article/{i}.html"
        title = _words(rng, rng.randint(5, 12)).capitalize()
        paras = [_words(rng, rng.randint(80, 160)) for _ in range(rng.randint(8, 16))]
        html, abstract = _page(title, paras, [])
        pages["url"].append(u)
        pages["html"].append(html)
        records[u] = [title, abstract]
        seeds.append(u)
    expect = {
        "reachable": sorted(seeds), "planted_miss": [], "planted_error": [],
        "url_filtered": [], "robots_blocked": [], "records": records,
        "funnel": {"queue": n_pages, "url_filtered": 0, "robots_blocked": 0,
                   "seen_dropped": 0, "scheduled": n_pages, "deferred": 0},
    }
    return pages, seeds, None, None, {"seen_mode": "off", "max_rounds": 1}, expect


# -- frontier-skew ------------------------------------------------------------

HORIZON = 20.0
SKEW_QUEUE = 12000
SKEW_HOSTS = 178


def _variant(rng: random.Random, url: str) -> str:
    """A spelling of ``url`` that canonicalizes to the same fingerprint."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    r = rng.random()
    if r < 0.4:
        return url                                   # exact repeat
    if r < 0.7:
        return f"{scheme}://{host.upper()}/{path}"   # host case
    if "?" in path:                                  # query order
        p, q = path.split("?", 1)
        return f"{scheme}://{host}/{p}?" + "&".join(reversed(q.split("&")))
    return f"{scheme}://{host}/{path}#frag{rng.randrange(9)}"


def _frontier_skew(rng: random.Random):
    n_queue = SKEW_QUEUE
    n_distinct = n_queue // 2
    hosts, weights = _hosts(SKEW_HOSTS, 1.0, "skew")
    # the mega-host carries a third of all distinct URLs
    weights[0] = sum(weights[1:]) / 2.0
    distinct: List[str] = []
    for i, host in enumerate(_owners(rng, hosts, weights, n_distinct)):
        q = f"?a={rng.randrange(100)}&b={i}" if rng.random() < 0.3 else ""
        distinct.append(f"http://{host}/item/{i}{q}")
    # queue order: every canonical spelling first (so the admitted
    # first-by-seq copy is the one the corpus holds), then duplicates
    dups = [_variant(rng, rng.choice(distinct)) for _ in range(n_queue - n_distinct)]
    order = list(distinct)
    rng.shuffle(order)
    queue = order + dups

    politeness = {"url_host": [], "download_delay": [], "max_per_host": []}
    delay, conc = {}, {}
    for i, h in enumerate(hosts):
        delay[h] = (1.0, 2.0, 5.0)[i % 3]
        conc[h] = (1, 2, 4)[i // 3 % 3]
        politeness["url_host"].append(h)
        politeness["download_delay"].append(delay[h])
        politeness["max_per_host"].append(conc[h])

    # the expected schedule: per host, LIFO by seq among first copies;
    # the r-th URL (1-based) is fetched at floor((r-1)/c)*d, kept while
    # that is inside the horizon (politeness.py's serial contract)
    by_host: Dict[str, List[Tuple[int, str]]] = {}
    for seq, u in enumerate(order):
        by_host.setdefault(u.split("/")[2], []).append((seq, u))
    scheduled = []
    for h, rows in by_host.items():
        rows.sort(reverse=True)
        for r, (_, u) in enumerate(rows):
            if (r // conc[h]) * delay[h] < HORIZON:
                scheduled.append(u)
    pages, records = {"url": [], "html": []}, {}
    for u in sorted(distinct):
        title = _words(rng, rng.randint(3, 6)).capitalize()
        html, abstract = _page(title, [_words(rng, rng.randint(8, 16))], [])
        pages["url"].append(u)
        pages["html"].append(html)
        records[u] = [title, abstract]
    config = {"seen_mode": "cuckoo", "horizon": HORIZON, "max_rounds": 1}
    expect = {
        "reachable": sorted(distinct), "planted_miss": [], "planted_error": [],
        "url_filtered": [], "robots_blocked": [], "records": records,
        "scheduled": sorted(scheduled),
        "funnel": {"queue": n_queue, "url_filtered": 0, "robots_blocked": 0,
                   "seen_dropped": n_queue - n_distinct,
                   "scheduled": len(scheduled),
                   "deferred": n_distinct - len(scheduled)},
    }
    return pages, queue, politeness, None, config, expect


WORKLOADS = {
    "crawl-deep": _crawl_deep,
    "extract-bulk": _extract_bulk,
    "frontier-skew": _frontier_skew,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir``; return its sizes."""
    rng = random.Random(f"{workload}:{seed}")
    pages, seeds, politeness, robots, config, expect = WORKLOADS[workload](rng)
    os.makedirs(out_dir, exist_ok=True)
    _write(os.path.join(out_dir, "pages.parquet"), pages,
           [("url", pa.string()), ("html", pa.binary())])
    _write(os.path.join(out_dir, "seeds.parquet"), _seed_rows(seeds), SEED_FIELDS)
    if politeness is not None:
        _write(os.path.join(out_dir, "politeness.parquet"), politeness,
               [("url_host", pa.string()), ("download_delay", pa.float64()),
                ("max_per_host", pa.int32())])
    if robots is not None:
        _write(os.path.join(out_dir, "robots.parquet"), robots,
               [("url_host", pa.string()),
                ("disallow_prefixes", pa.list_(pa.string())),
                ("crawl_delay", pa.float64())])
    with open(os.path.join(out_dir, "config.json"), "w") as fh:
        json.dump(config, fh, sort_keys=True)
    with open(os.path.join(out_dir, "expect.json"), "w") as fh:
        json.dump(expect, fh, sort_keys=True)
    return {
        "pages": len(pages["url"]),
        "page_bytes": sum(len(h) for h in pages["html"]),
        "queue": len(seeds),
        "hosts": len({u.split("/")[2].lower() for u in pages["url"]}),
    }
