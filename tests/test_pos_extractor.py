"""PoS (pex-dc + splash enrichment) parity vs the reference goldens
(/root/reference/tests/test_pos.py over tests/responses/pos).

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals."""

import pytest

from hepcrawl_spark.extractors.pex_dc import (
    extract_pex_dc,
    extract_pos_splash,
)

from ref_goldens import golden, requires_reference

MOD = "test_pos"

FIXTURE = "/root/reference/tests/responses/pos/sample_pos_record.xml"
SPLASH = "/root/reference/tests/responses/pos/sample_splash_page.html"


@pytest.fixture(scope="module")
def record():
    with open(FIXTURE, "rb") as fh:
        records = extract_pex_dc(fh.read())
    assert records
    return records[0]


@pytest.fixture(scope="module")
def splash(record):
    with open(SPLASH, "rb") as fh:
        return extract_pos_splash(fh.read(), record["new_urls"][0])[0]


@requires_reference
def test_title(record):
    assert record["title"] == golden(MOD, "test_title", "title")


@requires_reference
def test_date_published(record):
    assert record["date_published"] == golden(
        MOD, "test_date_published", "date_published"
    )


@requires_reference
def test_subject(record):
    assert record["field_categories"] == golden(
        MOD, "test_subject", "field_categories"
    )


@requires_reference
def test_license(record):
    assert record["license"] == golden(MOD, "test_license", "expected_license")


@requires_reference
def test_collections(record):
    for coll in golden(MOD, "test_collections", "collections"):
        assert {"primary": coll} in record["collections"]


@requires_reference
def test_language(record):
    assert "language" not in record  # English is dropped


@requires_reference
def test_publication_info(record):
    g = lambda v: golden(MOD, "test_publication_info", v)
    assert record["journal_title"] == g("journal_title")
    assert record["journal_year"] == g("journal_year")
    assert record["journal_artid"] == g("journal_artid")
    assert record["journal_volume"] == g("journal_volume")


@requires_reference
def test_authors(record):
    authors = golden(MOD, "test_authors", "authors")
    surnames = golden(MOD, "test_authors", "surnames")
    affiliations = golden(MOD, "test_authors", "affiliations")
    astr = record["authors"]
    assert len(astr) == len(authors)
    for index in range(len(authors)):
        assert astr[index]["full_name"] == authors[index]
        assert astr[index]["surname"] == surnames[index]
        assert affiliations[index] in [
            aff["value"] for aff in astr[index]["affiliations"]
        ]


@requires_reference
def test_external_system_numbers(record):
    assert record["external_system_numbers"] == [
        {"institute": "PoS", "value": "PoS(LATTICE 2013)001"},
        {"institute": "PoS", "value": "oai:pos.sissa.it:LATTICE 2013/001"},
    ]


@requires_reference
def test_extra_data(record):
    assert record["extra_data"] == [{"section": "Plenary sessions"}]


@requires_reference
def test_splash_pdf_link(splash):
    assert splash["additional_files"] == [{
        "type": "Fulltext",
        "url": ("http://pos.sissa.it/archive/conferences/187/001/"
                "LATTICE 2013_001.pdf"),
    }]


@requires_reference
def test_spark_pos_flow(spark):
    """Stage A + stage B merged through the enrichment join."""
    from pyspark.sql import functions as F

    from hepcrawl_spark.extract import extract_records
    from hepcrawl_spark.flows.enrichment import merge_enrichment

    with open(FIXTURE, "rb") as fh:
        xml = fh.read()
    with open(SPLASH, "rb") as fh:
        html = fh.read()

    pages = spark.createDataFrame(
        [("http://pos.sissa.it/oai.xml", bytearray(xml), "pex-dc")],
        "url string, html binary, format string",
    )
    a = extract_records(pages).filter(F.col("error").isNull()).withColumn(
        "splash_url", F.element_at("new_urls", 1)
    )
    splash_url = a.select("splash_url").first().splash_url
    splash_pages = spark.createDataFrame(
        [(splash_url, bytearray(html), "pos-splash")],
        "url string, html binary, format string",
    )
    b = extract_records(splash_pages).filter(F.col("error").isNull()).select(
        "url", "urls", "additional_files"
    )
    merged = merge_enrichment(
        a, b, fields=["urls", "additional_files"]
    ).collect()
    assert len(merged) == 1
    row = merged[0]
    assert row.title == "Heavy Flavour Physics Review"
    assert row.journal_volume == "LATTICE 2013"
    assert row.additional_files[0].url.endswith("LATTICE 2013_001.pdf")
    assert row.urls[0].value.startswith("http://pos.sissa.it/contribution")
