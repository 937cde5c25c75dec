"""BASE (oai-base-dc + splash pdf hunt) parity vs the reference
goldens (/root/reference/tests/test_base.py over tests/responses/base).

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals -- including the abstract with its soft-hyphen characters,
previously pinned only as an md5 because the bytes do not survive
copy-paste."""

import pytest

from hepcrawl_spark.extractors.base_dc import (
    extract_base_dc,
    extract_base_splash,
)

from ref_goldens import golden, requires_reference

FIXTURE = "/root/reference/tests/responses/base/test_1.xml"
SPLASH = "/root/reference/tests/responses/base/test_1_splash.htm"
MOD = "test_base"


@pytest.fixture(scope="module")
def record():
    with open(FIXTURE, "rb") as fh:
        records = extract_base_dc(fh.read())
    assert records
    return records[0]


@requires_reference
def test_abstract(record):
    assert record["abstract"] == golden(MOD, "test_abstract", "abstract")


@requires_reference
def test_title(record):
    assert record["title"] == golden(MOD, "test_title", "title")
    assert record["subtitle"] == golden(MOD, "test_title", "subtitle")


@requires_reference
def test_date_published(record):
    assert record["date_published"] == golden(
        MOD, "test_date_published", "date_published"
    )


@requires_reference
def test_authors(record):
    authors = golden(MOD, "test_authors", "authors")
    assert len(record["authors"]) == len(authors)
    for index, name in enumerate(authors):
        assert record["authors"][index]["full_name"] == name


@requires_reference
def test_urls(record):
    assert record["urls"] == golden(MOD, "test_urls", "urls")


@requires_reference
def test_get_urls_and_splash_hop(record):
    # no direct pdf in the record → first link is the splash hop
    assert record["new_urls"] == ["http://hdl.handle.net/1885/10005"]


@requires_reference
def test_thesis_and_collections(record):
    assert record["thesis"]["degree_type"] == "PhD"
    assert [c["primary"] for c in record["collections"]] == ["HEP", "THESIS"]


@requires_reference
def test_splash_pdf(record):
    with open(SPLASH, "rb") as fh:
        splash = extract_base_splash(fh.read(), "http://www.example.com")[0]
    assert splash["file_urls"] == [
        "http://www.example.com/bitstream/1885/10005/1/Butt_R.D._2003.pdf"
    ]
