"""Brown and Philpapers JSON extractors parity vs reference goldens
(test_brown.py / test_phil.py over tests/responses/{brown,phil}).

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals."""

import json

import pytest

from hepcrawl_spark.extractors.json_brown import (
    extract_brown,
    extract_brown_splash,
)
from hepcrawl_spark.extractors.json_phil import (
    extract_phil,
    extract_phil_splash,
)

from ref_goldens import golden, requires_reference

RESP = "/root/reference/tests/responses"


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


# --- Brown -----------------------------------------------------------------

@pytest.fixture(scope="module")
def brown():
    data = json.loads(_read(f"{RESP}/brown/test_1.json"))
    data["items"]["docs"][0]["uri"] = "brown/test_splash.html"
    return extract_brown(json.dumps(data).encode())[0]


@pytest.fixture(scope="module")
def brown_splash():
    return extract_brown_splash(
        _read(f"{RESP}/brown/test_splash.html"), "http://www.example.com"
    )[0]


@requires_reference
def test_brown_title(brown):
    assert brown["title"] == (
        "The Electrostatic Field-Effect in Electrically Actuated Nanopores"
    )


@requires_reference
def test_brown_abstract(brown):
    assert brown["abstract"] == golden("test_brown", "test_abstract", "abstract")


@requires_reference
def test_brown_keywords(brown):
    keywords_gt = golden("test_brown", "test_keywords", "keywords_gt")
    assert brown["free_keywords"]
    for key_gt, key in zip(keywords_gt, brown["free_keywords"]):
        assert key_gt == key["value"]


@requires_reference
def test_brown_urls_and_hop(brown):
    assert brown["urls"] == [{"value": "brown/test_splash.html"}]
    assert brown["new_urls"] == ["brown/test_splash.html"]


@requires_reference
def test_brown_splash_fields(brown_splash):
    assert brown_splash["authors"][0]["full_name"] == "Jiang, Zhijun"
    assert brown_splash["date_published"] == "2011-01-01"
    # reference test_brown.py::test_files_constructed pins the PDF link
    # shape; host swapped to the fake response url as the reference does
    link = golden("test_brown", "test_files_constructed", "link")
    assert brown_splash["file_urls"] == [
        link.replace("https://repository.library.brown.edu",
                     "http://www.example.com")
    ]
    assert brown_splash["page_nr"] == ["129"]
    assert brown_splash["thesis"]["date"] == "2011"
    assert brown_splash["thesis"]["institutions"][0]["name"] == (
        "Brown University"
    )


# --- Phil ------------------------------------------------------------------

@pytest.fixture(scope="module")
def phil_thesis():
    return extract_phil(_read(f"{RESP}/phil/test_thesis.json"))[0]


@pytest.fixture(scope="module")
def phil_journal():
    return extract_phil(_read(f"{RESP}/phil/test_journal.json"))[0]


@requires_reference
def test_phil_title_and_date(phil_thesis):
    assert phil_thesis["title"] == golden("test_phil", "test_title", "title")
    assert phil_thesis["date_published"] == golden(
        "test_phil", "test_date_published", "year"
    )


@requires_reference
def test_phil_abstract(phil_thesis):
    assert phil_thesis["abstract"] == golden(
        "test_phil", "test_abstract", "abstract"
    )


@requires_reference
def test_phil_thesis_authors(phil_thesis):
    assert [a["raw_name"] for a in phil_thesis["authors"]] == golden(
        "test_phil", "test__thesis_authors", "authors"
    )
    assert phil_thesis["collections"] == [{"primary": "THESIS"}]


@requires_reference
def test_phil_journal(phil_journal):
    assert phil_journal["journal_title"] == golden(
        "test_phil", "test_journal", "title"
    )
    assert phil_journal["journal_volume"] == golden(
        "test_phil", "test_journal", "volume"
    )
    assert phil_journal["journal_issue"] == golden(
        "test_phil", "test_journal", "issue"
    )
    assert [a["full_name"] for a in phil_journal["authors"]] == golden(
        "test_phil", "test__journal_authors", "authors"
    )


@requires_reference
def test_phil_splash_pdf(phil_thesis):
    splash = extract_phil_splash(
        _read(f"{RESP}/phil/fake_splash.html"),
        "http://philpapers.org/rec/SDFGSDFGDGSDF",
    )[0]
    assert splash["file_urls"] == [
        "http://philpapers.org/www.example.com/file.pdf"
    ]
