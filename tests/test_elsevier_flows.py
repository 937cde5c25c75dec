"""Elsevier crawl routes: atom feed → zip packages → member XMLs →
sciencedirect enrichment, plus the unpublished-proof drop.

Parity: elsevier_spider.py:142-181 (handle_feed/handle_package),
:784-805 (lazy sciencedirect hop), :806-848 + :929-932 (volume
scrape + proof gate); goldens from
/root/reference/tests/test_elsevier.py (test_hadle_feed,
test_handle_package, test_sciencedirect, test_sciencedirect_proof).
"""

import pytest

from pyspark.sql import functions as F

from hepcrawl_spark.extractors.elsevier import (
    extract_elsevier_atom,
    extract_elsevier_zip,
    extract_sd_splash,
)
from hepcrawl_spark.flows.enrichment import elsevier_sd_flow
from hepcrawl_spark.frontier.checkpoint import RoundStore
from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl

from ref_goldens import requires_reference

RESPONSES = "/root/reference/tests/responses/elsevier"

ATOM_FEED = """<feed xmlns="http://www.w3.org/2005/Atom">
    <entry>
        <title>30378-00001-FULL-XML-ASTROPART PHYS (0927-6505) 1.7.ZIP</title>
        <link href="http://feeds.test/fake_astropart.zip"/>
        <id>564321351</id>
    </entry>
    <entry>
        <title>9261-00001-FULL-XML-NIMA (0168-9002) 1.7.2014.ZIP</title>
        <link href="http://feeds.test/fake_nima.zip"/>
        <id>asdsdasda</id>
    </entry>
</feed>"""

SD_BODY = b"""
    <html>
    <head>
        <meta name="citation_journal_title" content="Physics Letters B">
        <meta name="citation_doi" content="10.1016/0370-2693(88)91603-6">
        <meta name="citation_volume" content="206">
        <meta name="citation_issue" content="3">
        <meta name="citation_publication_date" content="1988/05/26">
        <meta name="citation_firstpage" content="421">
        <meta name="citation_lastpage" content="426">
    </head>
    </html>"""

PROOF_BODY = (b'<html><head>'
              b'<meta name="citation_volume" content="Online 1.1.2016">'
              b'</head></html>')


def test_atom_feed_yields_zip_links():
    recs = extract_elsevier_atom(ATOM_FEED.encode())
    assert recs == [{"new_urls": ["http://feeds.test/fake_astropart.zip",
                                  "http://feeds.test/fake_nima.zip"]}]


@requires_reference
def test_zip_expands_members_in_batch():
    with open(f"{RESPONSES}/fake_astropart.zip", "rb") as fh:
        recs = extract_elsevier_zip(fh.read(), url="http://feeds.test/fake_astropart.zip")
    assert len(recs) == 1
    # the member XML has no journal keys → the lazy sciencedirect hop
    assert recs[0]["new_urls"] == [
        "http://www.sciencedirect.com/science/article/pii/S0927650515001656"
    ]


def test_sd_splash_scrape_golden():
    recs = extract_sd_splash(SD_BODY)
    assert recs == [{
        "date_published": "1988-05-26",
        "journal_title": "Physics Letters B",
        "journal_volume": "206",
        "journal_issue": "3",
        "dois": [{"value": "10.1016/0370-2693(88)91603-6"}],
        "journal_year": 1988,
        "journal_fpage": "421",
        "journal_lpage": "426",
        "page_nr": ["6"],
    }]


def test_sd_splash_proof_marker():
    assert extract_sd_splash(PROOF_BODY) == [{"journal_volume": "proof"}]


@requires_reference
def test_atom_to_zip_to_sciencedirect_crawl(spark, tmp_path):
    """Three frontier hops from one atom-feed seed: feed → zip
    packages (expanded in-batch) → member records → sciencedirect
    splash pages, with child formats routed by URL pattern."""
    def zb(name):
        with open(f"{RESPONSES}/{name}", "rb") as fh:
            return fh.read()

    sd1 = "http://www.sciencedirect.com/science/article/pii/S0927650515001656"
    sd2 = "http://www.sciencedirect.com/science/article/pii/S0168900215015636"
    rows = [
        ("http://feeds.test/atom.xml", ATOM_FEED.encode(), "elsevier-atom"),
        ("http://feeds.test/fake_astropart.zip", zb("fake_astropart.zip"), ""),
        ("http://feeds.test/fake_nima.zip", zb("fake_nima.zip"), ""),
        (sd1, SD_BODY, ""),
        (sd2, SD_BODY, ""),
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    seeds = make_seeds(
        spark, [("http://feeds.test/atom.xml", "elsevier-atom", 0)]
    )
    summary = run_crawl(
        spark, seeds, pages,
        config=CrawlConfig(
            seen_mode="off", max_rounds=8,
            child_format_routes={
                r"\.zip$": "elsevier-zip",
                r"sciencedirect\.com/science/article/pii": (
                    "elsevier-sciencedirect"
                ),
            },
        ),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary["errors"] == 0
    assert summary["scheduled"] == 5    # feed + 2 zips + 2 splash pages
    # feed carrier + 2 zip-member records + 2 splash scrapes
    assert summary["records"] == 5
    assert summary["rounds"] == 3


def test_proof_drop_flow(spark):
    """elsevier_sd_flow: the proof splash drops its parent record, the
    published splash enriches its parent (parent values win)."""
    parents = spark.createDataFrame(
        [
            ("http://x/a.xml", ["http://sd/a"], None, "PUB A"),
            ("http://x/b.xml", ["http://sd/b"], None, "PUB B"),
        ],
        "url string, new_urls array<string>, journal_volume string, "
        "title string",
    ).withColumn("journal_title", F.lit(None).cast("string")) \
     .withColumn("journal_issue", F.lit(None).cast("string")) \
     .withColumn("journal_fpage", F.lit(None).cast("string")) \
     .withColumn("journal_lpage", F.lit(None).cast("string")) \
     .withColumn("journal_year", F.lit(None).cast("long")) \
     .withColumn("date_published", F.lit(None).cast("string")) \
     .withColumn("dois", F.lit(None).cast("array<struct<value:string>>")) \
     .withColumn("page_nr", F.lit(None).cast("array<string>"))
    splash = spark.createDataFrame(
        [("http://sd/a", bytearray(SD_BODY)),
         ("http://sd/b", bytearray(PROOF_BODY))],
        "url string, html binary",
    )
    out = elsevier_sd_flow(parents, splash)
    rows = out.collect()
    assert len(rows) == 1               # proof parent dropped
    assert rows[0].title == "PUB A"
    assert rows[0].journal_volume == "206"
    assert rows[0].journal_year == 1988
