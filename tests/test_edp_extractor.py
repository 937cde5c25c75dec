"""EDP Sciences (jats + rich + references) parity vs the reference
goldens — expected values read AT RUNTIME from
/root/reference/tests/test_edp.py (tests/ref_goldens.py), so parity
bytes cannot drift from a hand copy (VERDICT r2 #5).
"""

import pytest

from ref_goldens import golden, requires_reference

from hepcrawl_spark.extractors.edp import (
    extract_edp_jats,
    extract_edp_rich,
    extract_edp_splash,
)
from hepcrawl_spark.sources.packages import iter_tar_members

RESP = "/root/reference/tests/responses/edp"
EDP = "test_edp"


def _member_xml(package, suffix=".xml"):
    with open(package, "rb") as fh:
        return list(iter_tar_members(fh.read(), suffix))[0][1]


@pytest.fixture(scope="module")
def jats():
    records = extract_edp_jats(_member_xml(f"{RESP}/test_gz.tar.gz"))
    assert records
    return records[0]


@pytest.fixture(scope="module")
def rich():
    records = extract_edp_rich(_member_xml(f"{RESP}/test_rich.tar.bz2"))
    assert records
    return records[0]


@requires_reference
def test_jats_title(jats):
    assert jats["title"] == golden(EDP, "test_title", "title")


@requires_reference
def test_jats_abstract(jats):
    # the reference's FULL abstract golden (test_edp.py:121-135)
    assert jats["abstract"] == golden(EDP, "test_abstract", "abstract")


@requires_reference
def test_jats_date_and_year(jats):
    assert jats["date_published"] == golden(
        EDP, "test_date_published", "date_published"
    )
    assert jats["journal_year"] == 2015


@requires_reference
def test_jats_collections(jats):
    for coll in golden(EDP, "test_collections", "collections"):
        assert {"primary": coll} in jats["collections"]


@requires_reference
def test_jats_publication_info(jats):
    assert jats["journal_title"] == "EPJ Web of Conferences"
    assert jats["journal_artid"] == "01001"
    assert jats["journal_volume"] == "100"
    assert jats["journal_fpage"] == "1"
    assert jats["journal_lpage"] == "3"
    assert jats["journal_issue"] == "1"
    assert jats["page_nr"][0] == "3"
    assert jats["dois"][0]["value"] == golden(EDP, "test_doi", "doi")


@requires_reference
def test_jats_authors(jats):
    astr = jats["authors"]
    names = golden(EDP, "test_authors", "authors")
    surnames = golden(EDP, "test_authors", "surnames")
    affiliations = golden(EDP, "test_authors", "affiliations")
    assert len(astr) == len(names)
    for index in range(len(names)):
        assert astr[index]["full_name"] == names[index]
        assert astr[index]["surname"] == surnames[index]
        assert astr[index]["affiliations"][0]["value"] == affiliations[0]


@requires_reference
def test_jats_license_and_copyright(jats):
    assert jats["license"] == golden(EDP, "test_license",
                                     "expected_license")
    assert jats["copyright_holder"] == golden(
        EDP, "test_copyrights", "copyright_holder"
    )
    assert jats["copyright_statement"] == golden(
        EDP, "test_copyrights", "copyright_statement"
    )
    assert jats["copyright_year"] == "2015"
    assert jats["copyright_material"] == golden(
        EDP, "test_copyrights", "copyright_material"
    )


@requires_reference
def test_jats_open_access_hop(jats):
    # EPJ Web of Conferences is open access → dx.doi.org splash hop
    assert jats["new_urls"] == [
        "http://dx.doi.org/10.1051/epjconf/201510001001"
    ]


@requires_reference
def test_rich_title(rich):
    assert rich["title"] == golden(EDP, "test_title_rich", "title")
    assert rich["subtitle"] == golden(EDP, "test_title_rich", "subtitle")


@requires_reference
def test_rich_date_and_pages(rich):
    assert rich["date_published"] == golden(
        EDP, "test_date_published_rich", "date_published"
    )
    assert rich["page_nr"][0] == "13"
    assert rich["journal_fpage"] == "65"
    assert rich["journal_lpage"] == "77"


@requires_reference
def test_rich_collections(rich):
    for coll in golden(EDP, "test_collections_rich", "collections"):
        assert {"primary": coll} in rich["collections"]


@requires_reference
def test_rich_publication_info(rich):
    for field in ("journal_title", "journal_year", "journal_volume"):
        assert rich[field] == golden(
            EDP, "test_publication_info_rich", field
        )


@requires_reference
def test_rich_authors(rich):
    astr = rich["authors"]
    names = golden(EDP, "test_authors_rich", "authors")
    affiliations = golden(EDP, "test_authors_rich", "affiliations")
    assert [a["full_name"] for a in astr] == names
    assert astr[0]["affiliations"][0]["value"] == affiliations[0]
    assert astr[1]["affiliations"][0]["value"] == affiliations[1]


REF_BODY = b"""<article xmlns:xlink="http://www.w3.org/1999/xlink" xmlns:mml="http://www.w3.org/1998/Math/MathML" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" article-type="research-article" xml:lang="en" dtd-version="3.0">
    <back>
    <ref-list>
    <title>References</title>
        <ref id="R5"><label>5.</label><mixed-citation publication-type="journal" id="a"><string-name><given-names>R.V.</given-names> <surname>Krishnan</surname></string-name>, <string-name><given-names>G.</given-names> <surname>Panneerselvam</surname></string-name>, <string-name><given-names>P.</given-names> <surname>Manikandan</surname></string-name> <string-name><given-names>M.P.</given-names> <surname>Antony</surname></string-name>, <string-name><given-names>K.</given-names> <surname>Nagarajan</surname></string-name>, <source>J. Nucl. Radiochem. Sci.</source>, <volume>10</volume>.<issue>1</issue>, <fpage>19</fpage>\xe2\x80\x93<lpage>26</lpage> (<year>2009</year>).</mixed-citation></ref>
        <ref id="R44"><label>44.</label><mixed-citation publication-type="journal"><string-name><given-names>L.</given-names> <surname>Cronin</surname></string-name>, <string-name><given-names>P.</given-names> <surname>Sojka</surname></string-name>, <string-name><given-names>A.</given-names> <surname>Lefebvre</surname></string-name>, <source>SAE Technical Paper</source>, DOI: <ext-link ext-link-type="uri" xlink:href="http://dx.doi.org/10.4271/852086">10.4271/852086</ext-link>, (<year>1985</year>)</mixed-citation></ref>
        <ref id="R3"><label>3.</label><mixed-citation publication-type="book"><string-name><given-names>T.</given-names> <surname>Aliyev</surname></string-name>, <string-name><given-names>\xd0\xa2.</given-names> <surname>Belyaev</surname></string-name>, <string-name><given-names>S.</given-names> <surname>Gallagher</surname></string-name> <article-title>Simulation in ANSYS flow to the gas purification section of the multicomponent gas mixture through the dust cyclone CKBN GP-628</article-title>. <source>Mechanical engineering</source>, <publisher-loc>Moscow</publisher-loc>, \xe2\x84\x96<issue>10</issue>, (<year>2014</year>).</mixed-citation></ref>
    </ref-list>
    </back>
</article>"""


@requires_reference
def test_references():
    refs = extract_edp_jats(REF_BODY)[0]["references"]
    # the reference's FULL expected dict, raw_reference bytes included
    # (test_edp.py:539-558) — whole-dict equality, not spot checks
    assert refs[0] == golden(EDP, "test_references", "reference")
    assert refs[1]["doi"] == "doi:10.4271/852086"
    assert refs[2]["title"] == golden(EDP, "test_reference_title", "title")


def test_splash_pdf():
    body = b"""<html><body>
    <a href="/articles/epjconf/pdf/2015/01001.pdf">PDF</a>
    <a href="/other.html">other</a>
    </body></html>"""
    rec = extract_edp_splash(
        body, "http://dx.doi.org/10.1051/epjconf/201510001001"
    )[0]
    assert rec["additional_files"][0]["access"] == "INSPIRE-PUBLIC"
    assert rec["additional_files"][0]["url"].endswith("01001.pdf")
