"""End-to-end Spark extraction over the fixture-backed pages table:
Arrow UDF batches must reproduce the reference goldens byte-identically
through the full DataFrame path (schema conformance included).

The golden test needs the reference checkout; the count and
robustness tests run on the generated corpus of
``tests/arxiv_corpus.py`` on every host."""

import re

import pytest
from pyspark.sql import functions as F

from hepcrawl_spark.extract import extract_records, split_records_errors
from hepcrawl_spark.sources.fixtures import fixture_pages

from arxiv_corpus import arxiv_pages, one_record_document
from ref_goldens import requires_reference


@requires_reference
def test_extract_arxiv_through_spark(spark):
    pages = fixture_pages(spark, formats=["arxiv-oai"])
    extracted = extract_records(pages)
    records, errors = split_records_errors(extracted)
    rows = records.filter(
        F.col("url").endswith("sample_arxiv_record0.xml")
    ).collect()
    assert errors.count() == 0
    assert len(rows) == 1
    rec = rows[0]
    assert rec.title == (
        "Irreversible degradation of quantum coherence under relativistic motion"
    )
    assert rec.preprint_date == "2016-01-13"
    assert rec.dois[0].value == "10.1103/PhysRevD.93.016005"
    assert [a.full_name for a in rec.authors] == \
        ["Wang, Jieci", "Tian, Zehua", "Jing, Jiliang", "Fan, Heng"]
    assert rec.license[0].license == "CC-BY-3.0"
    assert rec.page_nr == ["6"]
    assert rec.arxiv_eprints[0].categories == ["quant-ph", "gr-qc", "hep-th"]
    # collaborations survive struct conformance
    assert rec.collaborations[0].value == "Planck"


def test_fixture_rows_raises_on_missing_format_directory(tmp_path,
                                                        monkeypatch):
    # no silent loss: a requested format without its directory fails
    # loudly instead of yielding an empty corpus
    from hepcrawl_spark.sources import fixtures

    monkeypatch.setattr(fixtures, "REFERENCE_RESPONSES", str(tmp_path))
    missing = re.escape(str(tmp_path / "arxiv"))
    with pytest.raises(FileNotFoundError, match=missing):
        fixtures.fixture_rows(formats=["arxiv-oai"])


def test_extract_batch_counts(spark):
    pages = arxiv_pages(spark)
    extracted = extract_records(pages)
    records, errors = split_records_errors(extracted)
    # 11 single-record files + 1 file with 11 records = 22 records
    assert records.count() == 22
    assert errors.count() == 0


def test_error_capture_continues(spark):
    import datetime as dt
    from hepcrawl_spark.schema import PAGES_WITH_FORMAT_SCHEMA
    ts = dt.datetime(2016, 1, 1)
    pages = spark.createDataFrame(
        [
            ("http://bad.host/broken.xml", ts, b"<not-xml", None, "en", "arxiv-oai"),
            ("http://bad.host/unknown.fmt", ts, b"x", None, "en", "no-such-format"),
        ],
        schema=PAGES_WITH_FORMAT_SCHEMA,
    )
    extracted = extract_records(pages)
    records, errors = split_records_errors(extracted)
    assert records.count() == 0
    errs = {r.url: r.error for r in errors.collect()}
    assert len(errs) == 2
    assert "ParseError" in errs["http://bad.host/broken.xml"]
    assert "no extractor" in errs["http://bad.host/unknown.fmt"]


def test_classify_links_mime_seam(spark):
    """T22 get_mime_type (utils.py:154-162): the live HTTP HEAD is a
    relational seam — a mime(url, content_type) dimension wins over
    the suffix heuristic, unknown urls fall back to it."""
    from hepcrawl_spark.flows.enrichment import classify_links

    urls = spark.createDataFrame(
        [("http://a/x.pdf",), ("http://a/y.jpg",),
         ("http://a/page",), ("http://a/override.pdf",)],
        "url string",
    )
    # heuristic only (no HEAD table)
    got = {r.url: r.content_type
           for r in classify_links(urls, None).collect()}
    assert got["http://a/x.pdf"] == "application/pdf"
    assert got["http://a/y.jpg"] == "image/jpeg"
    assert got["http://a/page"] == "text/html"

    # HEAD table overrides: the server says the .pdf URL is HTML
    mime = spark.createDataFrame(
        [("http://a/override.pdf", "text/html; charset=utf-8")],
        "url string, content_type string",
    )
    got = {r.url: r.content_type
           for r in classify_links(urls, mime).collect()}
    assert got["http://a/override.pdf"] == "text/html; charset=utf-8"
    assert got["http://a/x.pdf"] == "application/pdf"  # fallback intact


def test_every_format_survives_malformed_bytes(spark):
    """Web-scale robustness: every registered extractor fed empty,
    garbage, truncated-XML/JSON/HTML and binary-noise payloads must
    either return records or raise (captured as an error row) — never
    hang, never kill the batch, never poison sibling rows."""
    from hepcrawl_spark.extractors import known_formats

    payloads = [
        b"",
        b"garbage not markup at all",
        b"<?xml version='1.0'?><unclosed><record>",
        b'{"data": [{"broken": ',
        b"<html><body><div class=",
        bytes(range(256)) * 4,
        "\xa0　<r\xe9cord>￿</r\xe9cord>".encode("utf-8"),
    ]
    rows = [
        (f"http://fuzz.test/{fmt}/{i}", payload, fmt)
        for fmt in known_formats()
        for i, payload in enumerate(payloads)
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    out = extract_records(pages)
    # one good row mixed in proves siblings survive a bad batch
    good = one_record_document()
    mixed = spark.createDataFrame(
        rows[:5] + [("http://ok.test/x", good, "arxiv-oai")] + rows[5:],
        "url string, html binary, format string",
    )
    n_total = out.count()                      # must terminate
    # outputs are records, error rows, or nothing (a page that parses
    # but holds no records is legitimately empty) — never a crash
    assert 0 < n_total <= len(rows) * 3
    ok = extract_records(mixed).filter(
        F.col("url") == "http://ok.test/x"
    ).filter(F.col("error").isNull())
    assert ok.count() == 1
