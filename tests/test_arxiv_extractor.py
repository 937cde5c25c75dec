"""arXiv OAI extraction byte-parity vs the reference pytest goldens.

Expected values are read AT RUNTIME from the reference's own test
sources (/root/reference/tests/test_arxiv_single.py and
test_arxiv_all.py) via tests/ref_goldens.py, so parity bytes cannot
drift from a hand copy (VERDICT r2 #5 — the Elsevier runtime-golden
pattern, extended)."""

import pytest

from hepcrawl_spark.extractors.arxiv_oai import extract

from ref_goldens import golden, requires_reference

FIXDIR = "/root/reference/tests/responses/arxiv"
SINGLE = "test_arxiv_single"
ALL = "test_arxiv_all"


def _load(name):
    with open(f"{FIXDIR}/{name}", "rb") as fh:
        return fh.read()


@pytest.fixture(scope="module")
def record():
    records = extract(_load("sample_arxiv_record0.xml"))
    assert len(records) == 1
    return records[0]


@pytest.fixture(scope="module")
def many():
    records = extract(_load("sample_arxiv_record.xml"))
    assert len(records) == 11
    return records


@requires_reference
def test_abstract(record):
    assert record["abstract"] == golden(SINGLE, "test_abstract", "abstract")


@requires_reference
def test_scalar_fields(record):
    assert record["title"] == golden(SINGLE, "test_title", "title")
    assert record["preprint_date"] == golden(
        SINGLE, "test_preprint_date", "preprint_date"
    )
    assert record["page_nr"] == golden(SINGLE, "test_page_nr", "page_nr")
    assert record["pubinfo_freetext"] == golden(
        SINGLE, "test_journal_ref", "jref"
    )
    assert record["source"] == "arXiv"


@requires_reference
def test_structured_fields(record):
    assert record["dois"][0]["value"] == golden(SINGLE, "test_dois", "dois")
    assert record["report_numbers"] == golden(
        SINGLE, "test_repno", "expected_repno"
    )
    assert record["collaborations"] == golden(
        SINGLE, "test_collaborations", "collaborations"
    )
    assert record["license"] == golden(
        SINGLE, "test_license", "expected_license"
    )
    assert set(c["primary"] for c in record["collections"]) == set(
        golden(SINGLE, "test_collections", "doctype")
    )
    assert record["public_notes"][0] == golden(SINGLE, "test_notes", "notes")
    eprints = golden(SINGLE, "test_arxiv_eprints", "eprints")
    assert record["arxiv_eprints"][0]["value"] == eprints["value"]
    assert record["arxiv_eprints"][0]["categories"] == eprints["categories"]
    assert record["external_system_numbers"][0] == golden(
        SINGLE, "test_external_system_numbers", "esn"
    )
    assert [a["full_name"] for a in record["authors"]] == golden(
        SINGLE, "test_authors", "author_full_names"
    )


@requires_reference
def test_many_collaborations(many):
    expected = golden(ALL, "test_collaborations", "collaborations")
    for rec, exp in zip(many, expected):
        got = [c["value"] for c in rec.get("collaborations", [])]
        assert got == exp


@requires_reference
def test_many_page_nr_and_doctype(many):
    page_nrs = golden(ALL, "test_page_nr", "page_nrs")
    doctypes = golden(ALL, "test_collections", "doctypes")
    for rec, pages, doctype in zip(many, page_nrs, doctypes):
        if pages:
            assert rec["page_nr"] == pages
        expected = {"HEP", "Citeable", "arXiv"} | (
            {doctype} if doctype else set()
        )
        assert set(c["primary"] for c in rec["collections"]) == expected


@requires_reference
def test_many_report_numbers(many):
    expected = golden(ALL, "test_repno", "expected_repnos")
    for rec, exp in zip(many, expected):
        if exp is not None:
            # order-insensitive, exactly as the reference asserts
            got = rec.get("report_numbers", [])
            assert len(got) == len(exp)
            for repno in exp:
                assert repno in got


@requires_reference
def test_many_authors_and_affiliations(many):
    # the reference's FULL per-record golden (test_arxiv_all.py:134-180)
    full_names = golden(ALL, "test_authors", "full_names")
    affiliations = golden(ALL, "test_authors", "affiliations")
    for rec, names, affs in zip(many, full_names, affiliations):
        authors = rec.get("authors", [])
        assert [a["full_name"] for a in authors] == names
        assert [
            [af["value"] for af in a.get("affiliations", [])]
            for a in authors
        ] == affs
