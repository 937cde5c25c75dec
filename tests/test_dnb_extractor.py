"""DNB (marc21-slim + splash enrichment) parity vs the reference
goldens (/root/reference/tests/test_dnb.py over tests/responses/dnb).

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals (the fixture and those literals carry combining diaeresis --
u + U+0308, not precomposed u-umlaut -- and the runtime read
preserves that byte-for-byte).
"""

import pytest

from hepcrawl_spark.extractors.dnb_splash import extract_dnb_splash
from hepcrawl_spark.extractors.marc21_slim import extract_marc21_slim

from ref_goldens import golden, requires_reference

MOD = "test_dnb"

FIXTURE = "/root/reference/tests/responses/dnb/test_1.xml"
SPLASH = "/root/reference/tests/responses/dnb/test_splash.html"

# the reference resolves these via live HTTP HEAD (utils.py:154-162);
# this table carries the same classification in the sandbox
MIME = {"http://d-nb.info/1079912991/34": "application/pdf"}


@pytest.fixture(scope="module")
def title():
    return golden(MOD, "test_title", "title")


@pytest.fixture(scope="module")
def record():
    with open(FIXTURE, "rb") as fh:
        records = extract_marc21_slim(
            fh.read(), mime_lookup=lambda u: MIME.get(u, "text/html")
        )
    assert records
    return records[0]


@pytest.fixture(scope="module")
def splash_record(record):
    with open(SPLASH, "rb") as fh:
        return extract_dnb_splash(fh.read(), record["new_urls"][0])[0]


@requires_reference
def test_title(record, title):
    assert record["title"] == title


@requires_reference
def test_date_published(record):
    assert record["date_published"] == "2015"


@requires_reference
def test_authors(record):
    authors = golden(MOD, "test_authors", "authors")
    surnames = golden(MOD, "test_authors", "surnames")
    affiliations = golden(MOD, "test_authors", "affiliations")
    astr = record["authors"]
    assert len(astr) == len(authors)
    for i in range(len(authors)):
        assert astr[i]["full_name"] == authors[i]
        assert astr[i]["surname"] == surnames[i]
        assert affiliations[i] in [
            aff["value"] for aff in astr[i]["affiliations"]
        ]


@requires_reference
def test_supervisors(record):
    assert record["thesis_supervisor"][0]["full_name"] == "Podlech, Holger"


@requires_reference
def test_source(record):
    assert record["source"] == "Univ.-Bibliothek Frankfurt am Main"


@requires_reference
def test_language(record):
    assert record["language"][0] == "German"


@requires_reference
def test_files(record):
    assert record["file_urls"][0] == "http://d-nb.info/1079912991/34"


@requires_reference
def test_urls(record):
    urls = golden(MOD, "test_urls", "urls")
    assert len(record["urls"]) == len(urls)
    assert [u["value"] for u in record["urls"]] == urls


@requires_reference
def test_doctype(record):
    assert record["thesis"]["degree_type"] == "PhD"


@requires_reference
def test_splash_abstract(splash_record):
    # full-string parity vs reference test_dnb.py::test_abstract
    assert splash_record["abstract"] == golden(MOD, "test_abstract", "abstract")


@requires_reference
def test_splash_page_nr(splash_record):
    assert splash_record["page_nr"] == ["133"]


@requires_reference
def test_spark_dnb_flow(spark, title):
    """Two-hop enrichment through DataFrames: stage-A extraction →
    splash fetch → dnb_flow left join merge."""
    from pyspark.sql import functions as F

    from hepcrawl_spark.extract import extract_records
    from hepcrawl_spark.flows.enrichment import dnb_flow

    with open(FIXTURE, "rb") as fh:
        xml = fh.read()
    with open(SPLASH, "rb") as fh:
        splash_html = fh.read()

    pages = spark.createDataFrame(
        [("http://services.dnb.de/test_1.xml", bytearray(xml),
          "marc21-slim")],
        "url string, html binary, format string",
    )
    stage_a = extract_records(pages).filter(F.col("error").isNull())
    splash_url = stage_a.select(
        F.element_at("new_urls", 1).alias("u")
    ).first().u
    splash_pages = spark.createDataFrame(
        [(splash_url, bytearray(splash_html))], "url string, html binary"
    )
    merged = dnb_flow(stage_a, splash_pages).collect()
    assert len(merged) == 1
    row = merged[0]
    assert row.title == title
    assert row.page_nr == ["133"]
    assert row.abstract.startswith("Die vorliegende Arbeit handelt")
    assert row.thesis.degree_type == "PhD"
