"""INSPIRE restructuring (K2) + JSON array writer (K1) parity."""

import json

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def records(spark):
    from hepcrawl_spark.extract import extract_records
    from arxiv_corpus import arxiv_pages

    return extract_records(
        arxiv_pages(spark)
    ).filter(F.col("error").isNull())


def test_restructure_shapes(records):
    from hepcrawl_spark.sinks.inspire import inspire_restructure

    out = inspire_restructure(
        records, acquisition_date="2016-01-14T00:00:00",
        default_source="arXiv",
    )
    # scratch fields folded away
    for gone in ["title", "abstract", "journal_title", "journal_year",
                 "copyright_holder", "related_article_doi", "source"]:
        assert gone not in out.columns
    row = out.filter(F.size("dois") > 0).first()
    assert row.acquisition_source.method == row.acquisition_source.source
    assert row.acquisition_source.date == "2016-01-14T00:00:00"
    assert row.titles[0].title  # folded from title
    assert row.abstracts[0].value
    assert row.imprints[0].date is not None


def test_restructure_merges_related_dois(spark):
    from hepcrawl_spark.extract import conform_record
    from hepcrawl_spark.schema import HEPRECORD_SCHEMA
    from hepcrawl_spark.sinks.inspire import inspire_restructure

    rec = conform_record({
        "url": "http://x", "source": "t",
        "dois": [{"value": "10.1/a"}],
        "related_article_doi": [{"value": "10.1/b"}],
        "journal_title": "J",
    })
    df = spark.createDataFrame([rec], HEPRECORD_SCHEMA)
    row = inspire_restructure(df, "2016-01-01T00:00:00").first()
    assert [d.value for d in row.dois] == ["10.1/a", "10.1/b"]
    assert row.publication_info[0].journal_title == "J"


def test_no_publication_info_when_empty(spark):
    from hepcrawl_spark.extract import conform_record
    from hepcrawl_spark.schema import HEPRECORD_SCHEMA
    from hepcrawl_spark.sinks.inspire import inspire_restructure

    rec = conform_record({"url": "http://x", "source": "t",
                          "title": "only a title"})
    df = spark.createDataFrame([rec], HEPRECORD_SCHEMA)
    row = inspire_restructure(df, "2016-01-01T00:00:00").first()
    assert row.publication_info is None


def test_json_array_writer(records, tmp_path):
    from hepcrawl_spark.sinks.inspire import write_json_array

    path = str(tmp_path / "out.json")
    n = write_json_array(records.select("url", "title").limit(3), path)
    assert n == 3
    with open(path) as fh:
        text = fh.read()
    assert text.startswith("[") and text.endswith("]\n")
    assert text.count("\n,") == 2  # reference separator layout
    parsed = json.loads(text)
    assert len(parsed) == 3 and all("url" in p for p in parsed)


def test_files_pipeline_stores_and_attaches(spark, tmp_path):
    """K5 FilesPipeline analog (settings.py:87-98): file_urls fetched
    from the corpus, stored under full/<sha1(url)><ext>, results
    folded back as the `files` column; a missing url is skipped like a
    failed download."""
    import hashlib
    import os

    from hepcrawl_spark.sinks.files import files_pipeline

    records = spark.createDataFrame(
        [("http://r/1", ["http://files/a.pdf", "http://files/missing.pdf"]),
         ("http://r/2", None)],
        "url string, file_urls array<string>",
    )
    pages = spark.createDataFrame(
        [("http://files/a.pdf", bytearray(b"%PDF-1.4 payload"))],
        "url string, html binary",
    )
    store = str(tmp_path / "store")
    out = files_pipeline(records, pages, store).collect()
    by_url = {r.url: r for r in out}

    files = by_url["http://r/1"].files
    assert len(files) == 1                       # missing url skipped
    f = files[0]
    sha1 = hashlib.sha1(b"http://files/a.pdf").hexdigest()
    assert f.path == f"full/{sha1}.pdf"
    assert f.checksum == hashlib.md5(b"%PDF-1.4 payload").hexdigest()
    with open(os.path.join(store, f.path), "rb") as fh:
        assert fh.read() == b"%PDF-1.4 payload"
    assert by_url["http://r/2"].files is None    # no file_urls → no files


def test_crawl_manifest_lists_errors_in_url_order(spark, tmp_path):
    """Two identical crawls list the same errors in their manifests,
    ordered by (url, error) whatever order the error part files are
    read in: round 0 fetch misses, round 1 misses linked from a seed
    and an extraction error."""
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import (
        CrawlConfig,
        make_seeds,
        run_crawl,
    )

    links = "".join(f"<a href='http://m.x/a{i}'>a</a>" for i in range(6))
    pages = spark.createDataFrame([
        ("http://h.x/p", f"<html><body>{links}</body></html>".encode(),
         "html-generic"),
        ("http://h.x/bad", b"<html></html>", "no-such-format"),
    ], "url string, html binary, format string")
    seeds = make_seeds(spark, [("http://h.x/p", "html-generic", 0),
                               ("http://h.x/bad", "no-such-format", 0)]
                       + [(f"http://m.x/z{i}", "html-generic", 0)
                          for i in range(6)])

    def manifest_errors(name):
        summary = run_crawl(
            spark, seeds, pages, store=RoundStore(spark, str(tmp_path / name)),
            config=CrawlConfig(seen_mode="exact", max_rounds=4))
        with open(summary["manifest_path"]) as fh:
            return json.load(fh)["errors"]

    first = manifest_errors("a")
    assert len(first) == 13
    assert first == sorted(first, key=lambda e: (e[1], e[0]))
    assert manifest_errors("b") == first
