"""MARC21 (Hindawi) extraction parity vs the reference goldens
(/root/reference/tests/test_hindawi.py over tests/responses/hindawi).

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals; the remaining inline values carry file:line citations.
"""

import pytest

from hepcrawl_spark.extractors.marc21 import extract_marc21

from ref_goldens import golden, requires_reference

FIXTURE = "/root/reference/tests/responses/hindawi/test_1.xml"
MOD = "test_hindawi"


@pytest.fixture(scope="module")
def record():
    with open(FIXTURE, "rb") as fh:
        records = extract_marc21(fh.read())
    assert records
    return records[0]


@requires_reference
def test_title(record):
    # reference tests/test_hindawi.py:37 (inline literal)
    assert record["title"] == "“Pi of the Sky” Detector"


@requires_reference
def test_date_published(record):
    # reference tests/test_hindawi.py:43 (inline literal)
    assert record["date_published"] == "2010-01-26"


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
def test_source(record):
    # reference tests/test_hindawi.py:71 (inline literal)
    assert record["source"] == "Hindawi Publishing Corporation"


@requires_reference
def test_files(record):
    assert record["file_urls"] == golden(MOD, "test_files", "file_urls")


@requires_reference
def test_urls(record):
    urls = golden(MOD, "test_urls", "urls")
    assert [u["value"] for u in record["urls"]] == urls


@requires_reference
def test_additional_files(record):
    af = record["additional_files"][0]
    assert af["url"] == golden(MOD, "test_additional_files", "url")
    assert af["access"] == "INSPIRE-HIDDEN"


@requires_reference
def test_collections(record):
    expected = golden(MOD, "test_collections", "collections")
    assert [c["primary"] for c in record["collections"]] == expected


@requires_reference
def test_copyright(record):
    assert record["copyright_statement"] == golden(
        MOD, "test_copyright", "cr_statement"
    )
    assert record["copyright_year"] == "2010"


@requires_reference
def test_dois(record):
    # reference tests/test_hindawi.py:121 (inline literal)
    assert record["dois"][0]["value"] == "10.1155/2010/194946"


@requires_reference
def test_publication_info(record):
    assert record["journal_title"] == golden(
        MOD, "test_publication_info", "journal_title"
    )
    assert record["journal_year"] == golden(
        MOD, "test_publication_info", "journal_year"
    )
    assert record["journal_issue"] == golden(
        MOD, "test_publication_info", "journal_issue"
    )


@requires_reference
def test_license(record):
    assert record["license"] == golden(MOD, "test_license", "expected_license")
