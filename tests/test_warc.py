"""WARC container source: round-trip + mis-split flagging."""

from pyspark.sql import functions as F

from hepcrawl_spark.sources import warc


def test_warc_round_trip(spark):
    rows = [
        (1, "https://a.example.com/x", "2026-08-19T00:00:01Z",
         "hello world"),
        (2, "https://b.example.com/y", "2026-08-19T00:00:02Z",
         "line one\r\nline two"),
        (3, "https://b.example.com/z", "2026-08-19T00:00:03Z", ""),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, dt string, body string"
    )
    members = docs.select(
        F.lit(0).alias("file_id"), "doc_id",
        warc.build_warc_records(
            F.col("url"), F.col("dt"), F.col("body")
        ).alias("rec"),
    ).groupBy("file_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                lambda s: s["rec"],
            ), ""
        ).alias("warc")
    )
    out = {
        r.target_uri: r
        for r in warc.parse_warc_records(members).collect()
    }
    assert len(out) == 3
    for _, url, dt, body in rows:
        r = out[url]
        assert r.payload == body
        assert r.warc_date == dt
        assert r.warc_type == "response"
        assert r.content_length == len(body) and r.length_ok


def test_warc_embedded_version_line_is_flagged(spark):
    # a payload that opens a line with the WARC version marker
    # mis-splits in text mode; the record must FLAG via length_ok,
    # never silently pass
    evil = "before\r\nWARC/1.0\r\nafter"
    docs = spark.createDataFrame(
        [(1, "https://a.example.com/x", "2026-08-19T00:00:01Z", evil)],
        "doc_id long, url string, dt string, body string",
    )
    members = docs.select(
        warc.build_warc_records(
            F.col("url"), F.col("dt"), F.col("body")
        ).alias("warc")
    )
    recs = warc.parse_warc_records(members).collect()
    assert not all(r.length_ok for r in recs)


def test_warc_members_extract_byte_identically(spark):
    # the north-star flow: Common-Crawl-style WARC members in, the
    # extraction surface out — fixture pages serialized into one WARC
    # member per host, re-parsed, and extracted must produce records
    # byte-identical to extracting the pages directly
    from arxiv_corpus import arxiv_pages
    from hepcrawl_spark.extract import (
        extract_records, split_records_errors,
    )

    pages = arxiv_pages(spark)
    direct, errs = split_records_errors(extract_records(pages))
    assert errs.count() == 0
    want = sorted(tuple(r) for r in direct.collect())

    members = pages.select(
        F.parse_url("url", F.lit("HOST")).alias("file_id"),
        "url",
        warc.build_warc_records(
            F.col("url"),
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.decode("html", "UTF-8"),
        ).alias("rec"),
    ).groupBy("file_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("url", "rec"))),
                lambda s: s["rec"],
            ), ""
        ).alias("warc")
    )
    parsed = warc.parse_warc_records(members)
    assert parsed.where(~F.col("length_ok")).count() == 0
    rebuilt = parsed.select(
        F.col("target_uri").alias("url"),
        F.encode("payload", "UTF-8").alias("html"),
    ).join(
        pages.select("url", "warc_ts", "text", "lang", "format"),
        on="url",
    ).select("url", "warc_ts", "html", "text", "lang", "format")
    redone, errs2 = split_records_errors(extract_records(rebuilt))
    assert errs2.count() == 0
    got = sorted(tuple(r) for r in redone.collect())
    assert got == want and len(got) == 22
