"""APS (harvest JSON) parity vs the reference goldens
(/root/reference/tests/test_aps.py over tests/responses/aps).

Expected values are read from the reference test sources at runtime
via tests/ref_goldens.py wherever the reference assigns them as
literals."""

import pytest

from hepcrawl_spark.extractors.json_aps import extract_json_aps

from ref_goldens import golden, requires_reference

FIXTURE = "/root/reference/tests/responses/aps/aps_single_response.json"
MOD = "test_aps"


@pytest.fixture(scope="module")
def record():
    with open(FIXTURE, "rb") as fh:
        records = extract_json_aps(fh.read())
    assert records
    return records[0]


@requires_reference
def test_abstract(record):
    assert record["abstract"] == golden(MOD, "test_abstract", "abstract")


@requires_reference
def test_title(record):
    assert record["title"] == golden(MOD, "test_title", "title")


@requires_reference
def test_date_published(record):
    assert record["date_published"] == golden(
        MOD, "test_date_published", "date_published"
    )


@requires_reference
def test_page_nr(record):
    assert record["page_nr"] == golden(MOD, "test_page_nr", "page_nr")


@requires_reference
def test_license(record):
    assert record["license"] == golden(MOD, "test_license", "expected_license")


@requires_reference
def test_dois(record):
    assert record["dois"][0]["value"] == golden(MOD, "test_dois", "dois")


@requires_reference
def test_collections(record):
    for coll in golden(MOD, "test_collections", "collections"):
        assert {"primary": coll} in record["collections"]


@requires_reference
def test_collaborations(record):
    assert record["collaborations"] == golden(
        MOD, "test_collaborations", "collaborations"
    )


@requires_reference
def test_subjects(record):
    assert record["field_categories"] == golden(MOD, "test_subjects", "subjects")


@requires_reference
def test_publication_info(record):
    g = lambda v: golden(MOD, "test_publication_info", v)
    assert record["journal_title"] == g("journal_title")
    # reference stores the year literal as a string; the record carries int
    assert record["journal_year"] == int(g("journal_year"))
    assert record["journal_volume"] == g("journal_volume")
    assert record["journal_issue"] == g("journal_issue")


@requires_reference
def test_authors(record):
    full_names = golden(MOD, "test_authors", "author_full_names")
    affiliation = golden(MOD, "test_authors", "affiliation")
    assert len(record["authors"]) == len(full_names)
    assert set(a["full_name"] for a in record["authors"]) == set(full_names)
    for author in record["authors"]:
        assert author["affiliations"][0]["value"] == affiliation


@requires_reference
def test_copyrights(record):
    g = lambda v: golden(MOD, "test_copyrights", v)
    assert record["copyright_holder"] == g("copyright_holder")
    assert record["copyright_year"] == g("copyright_year")
    assert record["copyright_statement"] == g("copyright_statement")
    assert record["copyright_material"] == g("copyright_material")


# --- pagination: the rel=next walk (aps_spider.py:121-127) ---------------

def test_link_next_parses_rfc5988():
    from hepcrawl_spark.extractors.json_aps import link_next
    hdr = ('<https://api/v2/journals/articles?page=2>; rel="next", '
           '<https://api/v2/journals/articles?page=1>; rel="prev"')
    assert link_next(hdr) == "https://api/v2/journals/articles?page=2"
    assert link_next('<https://x/2>; rel=next') == "https://x/2"
    assert link_next('<https://x/1>; rel="prev first"') is None
    assert link_next("") is None


@requires_reference
def test_pagination_new_urls():
    import json
    with open(FIXTURE, "rb") as fh:
        body = json.load(fh)
    body["Link"] = '<https://api/page2>; rel="next"'
    records = extract_json_aps(json.dumps(body).encode())
    assert records[0]["new_urls"] == ["https://api/page2"]


def test_pagination_empty_page_still_walks():
    import json
    payload = json.dumps({
        "data": [],
        "headers": {"Link": '<https://api/page3>; rel="next"'},
    }).encode()
    records = extract_json_aps(payload)
    assert records == [{"new_urls": ["https://api/page3"]}]


@requires_reference
def test_pagination_flow_three_pages_to_exhaustion(spark, tmp_path):
    """Crawl a 3-page APS Link-header sequence to exhaustion: one
    seed, records harvested from every page (frontier walk through
    _expand_children, not a spider loop)."""
    import json

    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig, make_seeds, run_crawl

    with open(FIXTURE, "rb") as fh:
        base = json.load(fh)

    def page(n, last=False):
        body = dict(base)
        body["data"] = [dict(base["data"][0])]
        body["data"][0]["identifiers"] = {
            "doi": "10.1103/PhysRevE.92.0%d" % n
        }
        if not last:
            body["Link"] = (
                '<http://api.aps.test/articles?page=%d>; rel="next"' % (n + 1)
            )
        return ("http://api.aps.test/articles?page=%d" % n,
                json.dumps(body).encode(), "json-aps")

    rows = [page(1), page(2), page(3, last=True)]
    pages = spark.createDataFrame(rows, "url string, html binary, format string")
    seeds = make_seeds(spark, [(rows[0][0], "APS", 0)])
    summary = run_crawl(
        spark, seeds, pages,
        config=CrawlConfig(seen_mode="off", max_rounds=8),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary["records"] == 3      # one article per page
    assert summary["scheduled"] == 3    # the walk visited every page
    assert summary["rounds"] == 3       # one committed round per page
