"""HTML thesis spiders parity (alpha / t2k / magic / phenix / mit /
infn) vs the reference goldens over tests/responses/*.

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals."""

import pytest

from hepcrawl_spark.extractors.html_theses import (
    extract_alpha,
    extract_infn,
    extract_infn_splash,
    extract_magic,
    extract_magic_splash,
    extract_mit,
    extract_mit_splash,
    extract_phenix,
    extract_t2k,
    extract_t2k_splash,
)

from ref_goldens import golden, requires_reference

RESP = "/root/reference/tests/responses"


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


# --- ALPHA -----------------------------------------------------------------

@pytest.fixture(scope="module")
def alpha():
    records = extract_alpha(_read(f"{RESP}/alpha/test_1.htm"))
    assert len(records) == 1
    return records[0]


@requires_reference
def test_alpha_fields(alpha):
    assert alpha["title"] == golden("test_alpha", "test_title", "title")
    assert alpha["date_published"] == golden(
        "test_alpha", "test_date_published", "date_published"
    )
    assert alpha["authors"][0]["full_name"] == golden(
        "test_alpha", "test_authors", "authors"
    )[0]
    assert alpha["authors"][0]["affiliations"][0]["value"] == golden(
        "test_alpha", "test_authors", "affiliation"
    )
    assert alpha["file_urls"] == golden("test_alpha", "test_pdf_link", "files")
    assert alpha["urls"] == golden("test_alpha", "test_urls", "urls")
    assert alpha["thesis"]["degree_type"] == golden(
        "test_alpha", "test_thesis", "thesis"
    )["degree_type"]
    # full byte-identical abstract (previously pinned only as an md5)
    assert alpha["abstract"] == golden("test_alpha", "test_abstract", "abstract")


# --- T2K -------------------------------------------------------------------

@requires_reference
def test_t2k_listing_and_splash():
    listing_url = "file:///tests/responses/t2k/test_1.html"
    recs = extract_t2k(_read(f"{RESP}/t2k/test_1.html"), listing_url)
    assert len(recs) == 1
    r = recs[0]
    assert r["title"] == golden("test_t2k", "test_title", "title")
    assert r["date_published"] == golden(
        "test_t2k", "test_date_published", "date_published"
    )
    assert r["authors"][0]["full_name"] == golden(
        "test_t2k", "test_authors", "authors"
    )[0]
    assert r["urls"] == [{"value": golden("test_t2k", "test_url", "url")}]

    splash = extract_t2k_splash(_read(f"{RESP}/t2k/001.html"),
                                r["new_urls"][0])[0]
    assert splash["additional_files"][0]["url"] == golden(
        "test_t2k", "test_pdf_link", "files"
    )
    # reference test fn name has the typo "test_abstact"
    assert splash["abstract"] == golden("test_t2k", "test_abstact", "abstract")


# --- MAGIC -----------------------------------------------------------------

@requires_reference
def test_magic_listing_and_splash():
    listing_url = "file:///tests/responses/magic/test_1.html"
    recs = extract_magic(_read(f"{RESP}/magic/test_1.html"), listing_url)
    assert len(recs) == 1
    r = recs[0]
    assert r["title"] == golden("test_magic", "test_title", "title")
    assert r["date_published"] == golden(
        "test_magic", "test_date_published", "date_published"
    )
    assert r["urls"][0]["value"] == golden("test_magic", "test_url", "url")

    splash = extract_magic_splash(
        _read(f"{RESP}/magic/test_splash.html"), r["new_urls"][0]
    )[0]
    assert splash["authors"][0]["full_name"] == golden(
        "test_magic", "test_authors", "authors"
    )[0]
    assert splash["authors"][0]["affiliations"][0]["value"] == golden(
        "test_magic", "test_authors", "affiliation"
    )
    assert splash["additional_files"][1]["url"] == golden(
        "test_magic", "test_pdf_link", "files"
    )
    assert splash["abstract"] == golden("test_magic", "test_abstract", "abstract")


# --- PHENIX ----------------------------------------------------------------

@requires_reference
def test_phenix_record():
    recs = extract_phenix(_read(f"{RESP}/phenix/test_1.html"))
    r = recs[0]
    assert r["title"] == golden("test_phenix", "test_title", "title")
    assert r["date_published"] == golden(
        "test_phenix", "test_date_published", "date_published"
    )
    assert r["authors"][0]["full_name"] == golden(
        "test_phenix", "test_authors", "authors"
    )[0]
    assert r["authors"][0]["affiliations"] == [
        {"value": golden("test_phenix", "test_authors", "affiliation")}
    ]
    assert r["additional_files"][0]["url"] == golden(
        "test_phenix", "test_pdf_link", "files"
    )


def test_phenix_non_thesis_skipped():
    body = b"""<table><td><ul>
    <li><b>M.Sc. Author</b>:
    "This is an Master's thesis, not a PhD", &nbsp; M.Sc. thesis at Master Science University, 2016,&nbsp;
    <br><br></li>
    </ul></td></table>"""
    assert extract_phenix(body) == []


# --- MIT -------------------------------------------------------------------

@requires_reference
def test_mit_listing():
    recs = extract_mit(_read(f"{RESP}/mit/test_list.html"))
    assert recs[0]["new_urls"] == [golden("test_mit", "test_url", "url")]


@requires_reference
def test_mit_splash():
    r = extract_mit_splash(_read(f"{RESP}/mit/test_splash.html"))[0]
    assert r["title"] == (
        "Theoretical investigation of energy alignment at "
        "metal/semiconductor interfaces for solar photovoltaic "
        "applications"
    )
    assert r["date_published"] == "2015"
    assert r["authors"][0]["full_name"] == golden(
        "test_mit", "test_authors", "authors"
    )[0]
    assert r["authors"][0]["affiliations"][0]["value"] == golden(
        "test_mit", "test_authors", "affiliation"
    )
    assert r["additional_files"][0]["url"] == (
        "http://dspace.mit.edu/bitstream/handle/1721.1/99287/"
        "922886248-MIT.pdf?sequence=1"
    )
    assert r["thesis"]["date"] == "2015"
    assert r["thesis"]["institutions"][0]["name"] == (
        "Massachusetts Institute of Technology"
    )
    assert r["thesis_supervisor"][0]["full_name"] == "Grossman, Jeffrey C."
    assert r["page_nr"] == ["124"]
    assert r["abstract"].startswith("Our work was inspired")


# --- INFN ------------------------------------------------------------------

@requires_reference
def test_infn_listing():
    recs = extract_infn(_read(f"{RESP}/infn/test_1.html"))
    assert recs[0]["new_urls"] == [
        golden("test_infn", "test_parse_node", "splash_link")
    ]


@requires_reference
def test_infn_splash():
    r = extract_infn_splash(
        _read(f"{RESP}/infn/test_splash.html"),
        "http://www.infn.it/thesis/thesis_dettaglio.php?tid=10136",
    )[0]
    assert r["title"] == (
        "Simulations and experimental assessment of dosimetric "
        "evaluations for breast imaging studies with Synchrotron "
        "Radiation"
    )
    assert r["date_published"] == "2016-03-08"
    assert r["authors"][0]["full_name"] == golden(
        "test_infn", "test_authors", "authors"
    )[0]
    assert golden("test_infn", "test_authors", "affiliation") in [
        a["value"] for a in r["authors"][0]["affiliations"]
    ]
    assert r["additional_files"][0]["url"] == golden(
        "test_infn", "test_parse_node", "pdf_link"
    )
    assert r["thesis"]["date"] == "2016-03-18"
    assert r["thesis"]["institutions"][0]["name"] == "Universit Di Trieste"
    assert r["thesis_supervisor"][0]["full_name"] == (
        "Tromba, Renata Longo Giuliana"
    )
    assert r["abstract"].startswith("The main aim of the PhD research")


# --- POST-form seed generators (S9) --------------------------------------

def test_infn_seed_generator(spark):
    """Form semantics parity: infn_spider.py:78-84."""
    from hepcrawl_spark.sources.seedgen import infn_seeds

    rows = infn_seeds(spark, year="2017").collect()
    assert len(rows) == 1
    assert rows[0].url == (
        "http://www.infn.it/thesis/index.php"
        "?TESI%5Bdata_conseguimentoyy%5D=2017"
        "&TESI%5Btesi_tipo%5D=1"
        "&TESI%5Bpaginazione%5D=0"
    )
    assert rows[0].format == "html-infn"
    assert rows[0].source == "infn"


def test_mit_seed_generator(spark):
    """Form semantics parity: mit_spider.py:70-78 (start_requests
    passes n=2)."""
    from hepcrawl_spark.sources.seedgen import mit_seeds

    rows = mit_seeds(spark, year="2016").collect()
    assert len(rows) == 1
    assert rows[0].url == (
        "http://dspace.mit.edu/handle/1721.1/7695/browse"
        "?year=2016&sort_by=2&rpp=2"
    )
    assert rows[0].format == "html-mit"


def test_seed_generator_requires_explicit_year():
    # reproducibility: the library must never read the wall clock — a
    # seed URL that silently changes on Jan 1 breaks resumable crawls.
    # The application (scripts/submit_crawl.py --seed-year) resolves
    # the default once per job instead.
    import inspect

    import hepcrawl_spark.sources.seedgen as sg

    for fn in (sg.infn_form_data, sg.mit_form_data, sg.infn_seeds,
               sg.mit_seeds):
        params = inspect.signature(fn).parameters
        assert params["year"].default is inspect.Parameter.empty
    assert "datetime" not in inspect.getsource(sg)
