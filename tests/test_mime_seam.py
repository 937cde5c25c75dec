"""T22 mime-seam contract (VERDICT r2 #10).

The reference classifies record URLs with a live HTTP HEAD
(``get_mime_type``, /root/reference/hepcrawl/utils.py:154-162); the
direct-link decision is ``"pdf" in get_mime_type(link)``
(base_spider.py:128-139).  The sandbox seam replaces the HEAD with a
relational ``mime(url, content_type)`` table joined broadcast-style,
falling back to a suffix heuristic (flows/enrichment.classify_links).

This test pins the seam interface directly: on the reference's OWN
URL-classification fixtures (extracted at runtime from
/root/reference/tests/test_base.py and test_hindawi.py, so the bytes
cannot drift), the mime-table join and the suffix heuristic reach the
SAME direct-link (pdf) decision, and that decision matches the
reference's (base find_direct_links semantics; hindawi
differentiate_urls string split, hindawi_spider.py:112-130).
"""

import re

from pyspark.sql import functions as F

from hepcrawl_spark.flows.enrichment import classify_links

from ref_goldens import requires_reference

_URL_RE = re.compile(r'"(https?://[^"\s<>]+)"')


def _fixture_urls(path):
    with open(path) as fh:
        src = fh.read()
    urls = []
    for u in _URL_RE.findall(src):
        # runnable fixture urls only (skip xml namespace/schema uris)
        if "w3.org" in u or "openarchives" in u or "purl.org" in u \
                or "base-search.net" in u or u.endswith(".xsd"):
            continue
        if u not in urls:
            urls.append(u)
    return urls


def _head_truth(url):
    """What the reference's live HEAD would return for these fixtures
    (the mocked content types its tests use: pdf files are
    application/pdf, xml files text/xml, splash pages text/html)."""
    low = url.lower()
    if low.endswith(".pdf"):
        return "application/pdf"
    if low.endswith(".xml"):
        return "text/xml"
    if low.endswith((".jpg", ".jpeg")):
        return "image/jpeg"
    return "text/html"


@requires_reference
def test_mime_table_and_heuristic_agree_on_reference_fixtures(spark):
    urls = (
        _fixture_urls("/root/reference/tests/test_base.py")
        + _fixture_urls("/root/reference/tests/test_hindawi.py")
    )
    assert len(urls) >= 5           # the fixtures actually loaded
    assert any(u.endswith(".pdf") for u in urls)
    assert any("dx.doi.org" in u for u in urls)

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    mime = spark.createDataFrame(
        [(u, _head_truth(u)) for u in urls], "url string, content_type string"
    )

    with_table = {
        r.url: r.content_type
        for r in classify_links(df, mime).collect()
    }
    with_heuristic = {
        r.url: r.content_type
        for r in classify_links(df, None).collect()
    }

    for u in urls:
        # the decision the crawl takes (direct pdf link or not,
        # base_spider.find_direct_links) must agree between the seam's
        # two sides, and match the reference's string split
        # (hindawi differentiate_urls: "pdf" in link.lower())
        table_pdf = "pdf" in with_table[u]
        heur_pdf = "pdf" in with_heuristic[u]
        assert table_pdf == heur_pdf, u
        assert table_pdf == u.lower().endswith(".pdf"), u
        # where the heuristic claims a concrete type (pdf/jpeg), it
        # must equal the HEAD truth exactly — the fallback is only
        # ever *less specific* (text/html), never wrong
        if with_heuristic[u] != "text/html":
            assert with_heuristic[u] == with_table[u], u


def test_mime_table_overrides_heuristic_for_unknown_suffix(spark):
    # a URL whose suffix lies (.../pdf-viewer serving html) — the
    # table (live HEAD truth) must win over the heuristic
    df = spark.createDataFrame(
        [("http://x.org/file",), ("http://x.org/doc.pdf",)],
        "url string",
    )
    mime = spark.createDataFrame(
        [("http://x.org/file", "application/pdf")],
        "url string, content_type string",
    )
    got = {r.url: r.content_type for r in classify_links(df, mime).collect()}
    assert got["http://x.org/file"] == "application/pdf"    # table wins
    assert got["http://x.org/doc.pdf"] == "application/pdf" # fallback
