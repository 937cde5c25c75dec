"""Elsevier CONSYN parity vs the reference goldens
(/root/reference/tests/test_elsevier.py over
tests/responses/elsevier/sample_consyn_record.xml)."""

import pytest

from hepcrawl_spark.extractors.elsevier import (
    extract_elsevier,
    get_journal_and_section,
    get_sd_url,
)

from ref_goldens import requires_reference

FIXTURE = ("/root/reference/tests/responses/elsevier/"
           "sample_consyn_record.xml")


@pytest.fixture(scope="module")
def record():
    with open(FIXTURE, "rb") as fh:
        records = extract_elsevier(
            fh.read(), url="elsevier/sample_consyn_record.xml"
        )
    assert records
    return records[0]


@requires_reference
def test_title(record):
    assert record["title"] == "Toward classification of conformal theories"


@requires_reference
def test_abstract(record):
    assert record["abstract"] == (
        "By studying the representations of the mapping class groups which "
        "arise in 2D conformal theories we derive some restrictions on the "
        "value of the conformal dimension hi of operators and the central "
        "charge c of the Virasoro algebra. As a simple application we show "
        "that when there are a finite number of operators in the conformal "
        "algebra, the hi and c are all rational."
    )


@requires_reference
def test_date_published(record):
    assert record["date_published"] == "1988-05-26"


@requires_reference
def test_authors(record):
    assert len(record["authors"]) == 1
    assert record["authors"][0]["full_name"] == "Vafa, Cumrun"
    assert record["authors"][0]["affiliations"][0]["value"] == (
        "Lyman Laboratory of Physics, Harvard University, Cambridge, "
        "MA 02138, USA"
    )


@requires_reference
def test_files(record):
    assert record["additional_files"][0]["url"] == (
        "elsevier/sample_consyn_record.xml"
    )


@requires_reference
def test_dois(record):
    assert record["dois"][0]["value"] == "10.1016/0370-2693(88)91603-6"


@requires_reference
def test_doctype(record):
    assert record["journal_doctype"] == "full-length article"


@requires_reference
def test_keywords(record):
    assert [d["value"] for d in record["free_keywords"]] == [
        "Heavy quarkonia", "Quark gluon plasma", "Mott effect", "X(3872)"
    ]


@requires_reference
def test_copyright(record):
    assert record["copyright_statement"] == (
        "Copyright 2014 Elsevier B.V. All rights reserved."
    )


@requires_reference
def test_journal_section_split(record):
    # "Physics Letters B" → title "Physics Letters", volume "B206"
    assert record["journal_title"] == "Physics Letters"
    assert record["journal_volume"] == "B206"
    assert record["journal_year"] == 1988


OA_BODY = b"""
<doc xmlns:oa="http://vtw.elsevier.com/data/ns/properties/OpenAccess-1/"
    xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    xmlns:dct="http://purl.org/dc/terms/"
    xmlns:prism="http://prismstandard.org/namespaces/basic/2.0/">
    <oa:openAccessInformation>
        <oa:openAccessEffective>2014-11-11T08:38:44Z</oa:openAccessEffective>
        <oa:userLicense>http://creativecommons.org/licenses/by/3.0/</oa:userLicense>
    </oa:openAccessInformation>
    <rdf:Description rdf:about="http://dx.doi.org/10.1016/0370-2693(88)91603-6">
        <dct:title>Toward classification of conformal theories</dct:title>
        <prism:doi>10.1016/0370-2693(88)91603-6</prism:doi>
        <prism:startingPage>421</prism:startingPage>
        <prism:publicationName>Physics Letters, Section B</prism:publicationName>
        <prism:volume>206</prism:volume>
        <dct:creator>Cumrun Vafa</dct:creator>
        <dct:subject>
            <rdf:Bag>
                <rdf:li>Heavy quarkonia</rdf:li>
                <rdf:li>Quark gluon plasma</rdf:li>
                <rdf:li>Mott effect</rdf:li>
                <rdf:li>X(3872)</rdf:li>
            </rdf:Bag>
        </dct:subject>
    </rdf:Description>
</doc>"""


@pytest.fixture(scope="module")
def oa_record():
    return extract_elsevier(
        OA_BODY, url="elsevier/sample_consyn_record.xml"
    )[0]


def test_oa_collection(oa_record):
    assert oa_record["collections"] == [
        {"primary": "HEP"}, {"primary": "Citeable"}, {"primary": "Published"}
    ]


def test_oa_license(oa_record):
    assert oa_record["license"] == [{
        "license": "CC-BY-3.0",
        "url": "http://creativecommons.org/licenses/by/3.0/",
    }]


def test_oa_fields(oa_record):
    assert oa_record["dois"][0]["value"] == "10.1016/0370-2693(88)91603-6"
    assert oa_record["title"] == "Toward classification of conformal theories"
    assert [d["value"] for d in oa_record["free_keywords"]] == [
        "Heavy quarkonia", "Quark gluon plasma", "Mott effect", "X(3872)"
    ]
    assert oa_record["journal_year"] == 2014
    assert oa_record["date_published"] == "2014-11-11"
    assert oa_record["journal_title"] == "Physics Letters"
    assert oa_record["journal_volume"] == "B206"


def test_oa_missing_keys_trigger_sd_hop(oa_record):
    # journal keys missing → lazy sciencedirect enrichment hop
    assert oa_record["new_urls"] == [
        "http://www.sciencedirect.com/science/article/pii/"
        "sample_consyn_record"
    ]


def test_sd_url():
    assert get_sd_url("some/dir/S0370269316000014.xml") == (
        "http://www.sciencedirect.com/science/article/pii/S0370269316000014"
    )


def test_journal_and_section_helper():
    assert get_journal_and_section("Physics Letters B") == (
        "Physics Letters", "B"
    )
    assert get_journal_and_section("Nuclear Physics, Section A") == (
        "Nuclear Physics", "A"
    )


@requires_reference
def test_references_on_record(record):
    """sb: bibliography lands on the record in schema shape
    (sample_consyn_record.xml; elsevier_spider.py:1030)."""
    refs = record["references"]
    assert len(refs) == 19
    assert refs[0] == {
        "number": "1",
        "fpage": "333",
        "journal_pubnote": ["Nucl.Phys.,B241,333"],
        "year": "1984",
        "authors": ["Belavin, A.A., Polyakov, A.M. & Zamolodchikov, A.B."],
        "journal_title": "Nucl. Phys.",
        "journal_volume": "B241",
    }
