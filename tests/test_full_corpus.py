"""Whole-corpus extraction smoke: every registered format over the
reference's complete fixture corpus through the Arrow UDF — zero
extraction errors, records from every record-bearing format."""

from pyspark.sql import functions as F

from ref_goldens import requires_reference


@requires_reference
def test_full_corpus_extraction(spark):
    from hepcrawl_spark.extract import extract_records
    from hepcrawl_spark.sources.fixtures import fixture_pages

    pages = fixture_pages(spark)
    formats = {r.format for r in pages.select("format").distinct().collect()}
    assert len(formats) >= 17  # all format routes present in the corpus

    extracted = extract_records(pages).persist()
    errors = extracted.filter(F.col("error").isNotNull()).collect()
    assert errors == [], [(e.url, e.error) for e in errors]

    records = extracted.filter(F.col("error").isNull())
    assert records.count() >= 35  # 22 arXiv + one-plus per other format

    with_title = records.filter(F.col("title").isNotNull())
    # every record-bearing format yields titled records; listing-only
    # pages (mit/infn/t2k hops) legitimately carry none
    assert with_title.count() >= 30
    extracted.unpersist()


def test_p10_crawl_clean_equals_direct_clean(spark):
    # the crawl->extract->clean cascade must equal clean_corpus applied
    # directly to the closed-form text the extraction round-trips --
    # any byte deviation in the extracted text changes tokens /
    # fingerprint and breaks this equality
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from hepcrawl_spark.operators.corpus import clean_corpus

    sf = "/root/testdata/sf0.001"
    via_crawl = {tuple(r) for r in
                 em.queries()["p10_crawl_clean"](spark, sf).collect()}
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("Doc "), F.col("doc_id").cast("string"),
                 F.lit(" "), F.col("text")).alias("text"))
    direct = {tuple(r) for r in clean_corpus(docs).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint").collect()}
    assert via_crawl == direct and via_crawl
    assert "p10_crawl_clean" in em.oracle_sql()
