"""NLM/IOP extraction parity vs the reference goldens — expected
values read AT RUNTIME from /root/reference/tests/test_iop.py
(tests/ref_goldens.py), so parity bytes cannot drift from a hand copy
(VERDICT r2 #5)."""

import os

import pytest

from ref_goldens import golden, requires_reference

IOP = "test_iop"

from hepcrawl_spark.extractors.nlm import extract_nlm

FIXTURE = "/root/reference/tests/responses/iop/xml/test_standard.xml"
PDF_DIR = "/root/reference/tests/responses/iop/pdf/"


@pytest.fixture(scope="module")
def record():
    manifest = [os.path.join(PDF_DIR, f) for f in os.listdir(PDF_DIR)]
    with open(FIXTURE, "rb") as fh:
        records = extract_nlm(
            fh.read(), url="http://www.example.com/test.xml",
            pdf_manifest=manifest,
        )
    assert records
    return records[0]


@requires_reference
def test_abstract(record):
    assert record["abstract"].startswith("Somatic BRAF mutation")


@requires_reference
def test_title(record):
    assert record["title"] == golden(IOP, "test_title", "title")


@requires_reference
def test_date_published(record):
    assert record["date_published"] == "2015-03"


@requires_reference
def test_page_nr(record):
    assert record["journal_fpage"] == "336"
    assert record["journal_lpage"] == "343"


@requires_reference
def test_free_keywords(record):
    keywords = golden(IOP, "test_free_keywords", "keywords")
    for kw in record["free_keywords"]:
        assert kw["source"] == "author"
        assert kw["value"] in keywords


@requires_reference
def test_dois(record):
    assert record["dois"][0]["value"] == "110.1309/AJCP4D7RXOBHLKGJ"


@requires_reference
def test_collections(record):
    expected = golden(IOP, "test_collections", "collections")
    for coll in record["collections"]:
        assert coll["primary"] in expected


@requires_reference
def test_publication_info(record):
    for field in ("journal_title", "journal_year", "journal_volume",
                  "journal_issue"):
        assert record[field] == golden(IOP, "test_publication_info", field)
    assert record["journal_issn"][0] == golden(
        IOP, "test_publication_info", "journal_issn"
    )


@requires_reference
def test_authors(record):
    # the reference's FULL per-author golden (test_iop.py:113-133)
    names = golden(IOP, "test_authors", "authors")
    affiliations = golden(IOP, "test_authors", "affiliations")
    assert len(record["authors"]) == len(names)
    for index, (name, aff) in enumerate(zip(names, affiliations)):
        assert record["authors"][index]["full_name"] == name
        assert record["authors"][index]["affiliations"] == aff


@requires_reference
def test_copyrights(record):
    assert record["copyright_holder"] == golden(
        IOP, "test_copyrights", "copyright_holder"
    )
    assert record["copyright_statement"] == golden(
        IOP, "test_copyrights", "copyright_statement"
    )


@requires_reference
def test_files(record):
    assert record["additional_files"][1]["access"] == "INSPIRE-HIDDEN"
    assert record["additional_files"][1]["type"] == "Fulltext"
    assert record["additional_files"][1]["url"] == (
        PDF_DIR + golden(IOP, "test_files", "pdf_filename")
    )


ERRATUM_BODY = b"""
<ArticleSet>
    <Article>
        <Journal>
            <PublisherName>Institute of Physics</PublisherName>
            <JournalTitle>J. Phys.: Conf. Ser.</JournalTitle>
            <Volume>143</Volume>
            <Issue>3</Issue>
        </Journal>
        <FirstPage LZero="save">336</FirstPage>
    <PublicationType>Published Erratum</PublicationType>
    </Article>
</ArticleSet>
"""


@requires_reference
def test_erratum_open_access():
    manifest = [os.path.join(PDF_DIR, f) for f in os.listdir(PDF_DIR)]
    rec = extract_nlm(ERRATUM_BODY, pdf_manifest=manifest)[0]
    assert rec["additional_files"][1]["access"] == "INSPIRE-PUBLIC"
    assert rec["additional_files"][1]["type"] == "Erratum"


@requires_reference
def test_not_published_record():
    # the aheadofprint fixture body comes from the reference test
    # itself (test_iop.py test_not_published_record)
    body = golden(IOP, "test_not_published_record", "body").encode()
    assert extract_nlm(body) == []
