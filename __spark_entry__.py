"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: one full crawl-round pipeline (seed →
URL-seen gate → politeness schedule → fetch join → Arrow extraction)
over a pages corpus synthesized from sf0.001 documents.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 plus the training-data pipeline operators
(dedup / similarity / text analysis / multimodal), each with an exact
DuckDB mirror unless the op is non-SQL-expressible (extraction UDF and
the LSH-approximate variants → rows-only checks).

Determinism contract used throughout (so value hashes match DuckDB):
- money/value sums go through per-row ``floor(x*100 + 0.5)`` cents —
  integer sums are order-independent and exact;
- doubles are either small-int ratios or the identical left-fold
  expression on both engines, rounded to 9 decimals as a hedge;
- timestamps are compared as ``unix_micros`` / ``epoch_us`` BIGINTs;
- every rank/count is BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hepcrawl_spark.extract import extract_records
from hepcrawl_spark.frontier.fingerprint import with_url_identity
from hepcrawl_spark.frontier.politeness import schedule
from hepcrawl_spark.frontier.robots import robots_filter
from hepcrawl_spark.frontier.seen import filter_unseen
from hepcrawl_spark.frontier import urlfilter
from hepcrawl_spark.operators import (
    boilerplate,
    corpus as corpus_ops,
    dedup,
    joins,
    multimodal,
    similarity,
    textops,
)
from hepcrawl_spark.schema import ROBOTS_SCHEMA


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _us(col):
    """ntz-safe epoch micros (events/orders timestamps are
    TIMESTAMP_NTZ; session tz is UTC so the cast is the identity
    wall-clock mapping DuckDB's epoch_us performs)."""
    return F.unix_micros(col.cast("timestamp"))


def _cents(col):
    """Deterministic money→cents: floor(x*100+0.5) (order-independent
    integer sums; identical in DuckDB)."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# frontier candidates synthesized from the events table (url/host/seq)
# ---------------------------------------------------------------------------

def _event_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    host = F.concat(
        F.lit("h"), (F.col("user_id") % 20).cast("string"), F.lit(".example.com")
    )
    url = F.concat(
        F.lit("http://"), host, F.lit("/p/"),
        (F.col("event_id") % 97).cast("string"),
    )
    df = ev.select(
        url.alias("url"),
        F.lit(0).cast("long").alias("priority"),
        F.lit(0).cast("int").alias("depth"),
        F.col("event_id").alias("seq"),
        F.lit("events").alias("source"),
        F.lit("html-generic").alias("format"),
    )
    # persist: every frontier query references the candidate frame more
    # than once (politeness dim + rank sides, or probe + state sides),
    # and each un-cached reference re-runs the Arrow canonicalization
    # UDFs.  run_crawl persists its queue for exactly this reason; the
    # standalone queries get the same treatment.  (Identical logical
    # plans share one cache entry, so repeated calls don't pile up.)
    return with_url_identity(df).persist()


_CAND_URL_SQL = "'http://h' || (user_id % 20) || '.example.com/p/' || (event_id % 97)"
_CAND_HOST_SQL = "'h' || (user_id % 20) || '.example.com'"


def _doc_pages(docs: DataFrame) -> DataFrame:
    """Wrap documents as Common-Crawl-style HTML pages (binary html)."""
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".docs.example.com"),
    )
    url = F.concat(F.lit("http://"), host, F.lit("/d/"),
                   F.col("doc_id").cast("string"))
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
            F.lit("</title></head><body><p>"), F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    return docs.select(url.alias("url"), html.alias("html"),
                       F.lit("html-generic").alias("format"),
                       F.col("doc_id"))


def _crawl_round(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """One full crawl round: seen gate → schedule → fetch join → extract."""
    pages = _doc_pages(docs)
    # seq = doc_id: already unique and deterministic, so the frontier
    # gets its insertion ordinal without a global row_number window
    # (Window.orderBy with no partitionBy is a single-task sort — the
    # one plan shape this repo bans from round-critical paths).
    cand = with_url_identity(
        pages.select(
            "url",
            F.lit(0).cast("long").alias("priority"),
            F.lit(0).cast("int").alias("depth"),
            F.col("doc_id").cast("long").alias("seq"),
            F.lit("webtext").alias("source"),
            F.lit("html-generic").alias("format"),
        )
    )
    pages = pages.drop("doc_id")
    admitted, _ = filter_unseen(cand, None, mode="exact")
    hosts = admitted.select("url_host").distinct()
    pol = hosts.select(
        "url_host",
        F.lit(0.1).alias("download_delay"),
        F.lit(4).alias("max_per_host"),
    )
    sched, _, _ = schedule(admitted, pol, None, round_start=0.0, horizon=None)
    fetched = sched.drop("format").join(pages, on="url")
    recs = extract_records(fetched.select("url", "html", "format"))
    return (
        recs.filter(F.col("error").isNull())
        .select(
            "url",
            "title",
            "abstract",
            F.size(F.coalesce(F.col("new_urls"),
                              F.array().cast("array<string>")))
            .cast("long").alias("n_links"),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl-round pipeline over sf0.001-derived pages."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return _crawl_round(spark, docs)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_top_unshipped(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .alias("revenue_cents"),
            F.min(_us(F.col("o_orderdate"))).alias("o_odate_us"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_semi_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    big = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_custkey"),
        )
    )


def _q_broadcast_dim(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents(F.col("c_acctbal"))).alias("acctbal_cents"),
        )
    )


def _q_latest_event(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id", "event_id",
            _us(F.col("ts")).alias("ts_us"),
        )
    )


def _q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _us(F.col("ts")) - F.lag(_us(F.col("ts"))).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("_ns", new_sess)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_ns").alias("n_sessions"),
        )
    )


def _q_hourly_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            _us(F.col("w.start")).alias("hour_us"),
            "event_type", "n", "value_cents",
        )
    )


def _q_running_value(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id", "event_id",
        F.sum(_cents(F.col("value"))).over(w).alias("cum_cents"),
    )


def _q_frontier_schedule(spark, sf_dir):
    cand = _event_candidates(spark, sf_dir)
    pol = cand.select("url_host").distinct().select(
        "url_host",
        F.lit(5.0).alias("download_delay"),
        F.lit(2).alias("max_per_host"),
    )
    sched, _, _ = schedule(cand, pol, None, round_start=0.0, horizon=None)
    return sched.select(
        "url_host", "seq",
        F.col("host_rank").cast("long").alias("host_rank"),
        F.col("fetch_ts").alias("fetch_ts"),
    )


def _q_frontier_seen(spark, sf_dir):
    cand = _event_candidates(spark, sf_dir)
    admitted, _ = filter_unseen(cand, None, mode="exact")
    return admitted.select("url", "seq")


def _q_frontier_seen_cuckoo(spark, sf_dir):
    # the 10^10-scale seen gate: sharded cuckoo filters probed via
    # cogroup/applyInPandas.  Approximate by construction (~16
    # bits/key false-positive rate), so rows-only — the exact-mode
    # equivalence on this corpus is asserted in
    # tests/test_frontier_seen.py.
    cand = _event_candidates(spark, sf_dir)
    admitted, _ = filter_unseen(cand, None, mode="cuckoo", num_shards=8)
    return admitted.select("url", "seq")


def _q_frontier_robots(spark, sf_dir):
    cand = _event_candidates(spark, sf_dir)
    robots = spark.createDataFrame(
        [(f"h{i}.example.com", ["/p/1"], None) for i in range(10)],
        ROBOTS_SCHEMA,
    )
    allowed, _ = robots_filter(cand, robots)
    return allowed.groupBy("url_host").agg(
        F.count(F.lit(1)).alias("n_allowed")
    )


def _q_crawl_records(spark, sf_dir):
    return _crawl_round(spark, _t(spark, sf_dir, "documents"))


def _q_text_tokens(spark, sf_dir):
    st = textops.token_stats(_t(spark, sf_dir, "documents"))
    return st.select(
        "doc_id",
        F.col("token_cnt").cast("long").alias("token_cnt"),
        F.col("distinct_cnt").cast("long").alias("distinct_cnt"),
        F.col("char_cnt").alias("char_cnt"),
    )


def _q_text_langid(spark, sf_dir):
    li = textops.lang_id(_t(spark, sf_dir, "documents"))
    return li.select(
        "doc_id",
        F.col("en_hits").cast("long").alias("en_hits"),
        F.col("token_cnt").cast("long").alias("token_cnt"),
        "guessed_lang",
    )


def _q_text_langid_multi(spark, sf_dir):
    li = textops.lang_id_multi(_t(spark, sf_dir, "documents"))
    return li.select(
        "doc_id",
        F.col("token_cnt").cast("long").alias("token_cnt"),
        "ratio_de", "ratio_en", "ratio_es", "ratio_fr",
        "guessed_lang",
    )


def _q_text_quality(spark, sf_dir):
    qs = textops.quality_score(_t(spark, sf_dir, "documents"))
    return qs.select(
        "doc_id",
        F.col("token_cnt").cast("long").alias("token_cnt"),
        F.round("ttr", 9).alias("ttr"),
        F.round("quality", 9).alias("quality"),
    )


def _q_text_fingerprint(spark, sf_dir):
    return textops.fingerprint(_t(spark, sf_dir, "documents"))


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _q_dedup_jaccard(spark, sf_dir):
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard"))


def _q_containment(spark, sf_dir):
    # d14: asymmetric shingle containment (Broder) — catches subset /
    # quote duplication resemblance misses; same inverted index as d02
    pairs = dedup.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8
    )
    return pairs.select(
        "doc_a", "doc_b",
        F.round("cont_a", 9).alias("cont_a"),
        F.round("cont_b", 9).alias("cont_b"),
        F.round("containment", 9).alias("containment"),
    )


def _q_semdedup(spark, sf_dir):
    # d15: SemDeDup over the embeddings corpus plus planted twins
    # (every 10th vector duplicated at id+100000, scaled x2 — same
    # direction, so cosine 1 and identical centroid-cosine; the x2
    # scale is exact in IEEE floats, keeping both mirrors bit-equal).
    # tau=0.45 is the s03/s04 contract threshold: the twins exercise
    # the drop rule, the handful of natural 0.45+ neighbours exercise
    # the keep-order tie-breaking
    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    base = emb.select("vec_id", "embedding").unionAll(twins)
    out = similarity.semantic_dedup(base, threshold=0.45, seed_mod=61)
    return out.select(
        F.col("id").alias("vec_id"), "cluster",
        F.round("ccos", 9).alias("ccos"), "kept",
    ).orderBy("vec_id")


def _q_dedup_minhash(spark, sf_dir):
    pairs = dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8
    )
    return pairs.select("doc_a", "doc_b",
                        F.round("jaccard", 9).alias("jaccard"))


def _q_dedup_jaccard_capped(spark, sf_dir):
    # the stop-shingle guardrail variant: document-frequency cap on
    # the inverted index bounds the quadratic self-join; fully
    # SQL-expressible, so it gets its own exact oracle
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8,
        max_shingle_df=20,
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard"))


def _q_dedup_simhash(spark, sf_dir):
    pairs = dedup.simhash_pairs(_t(spark, sf_dir, "documents"), hamming_max=3)
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_ann_topk(spark, sf_dir):
    res = similarity.ann_topk(_t(spark, sf_dir, "embeddings"), k=10)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_int8(spark, sf_dir):
    # s06: SQ8-quantized top-k — exact given the quantized codes (the
    # per-vector scale cancels in cosine), so FULL oracle, unlike the
    # rows-only LSH/IVF variants
    res = similarity.ann_topk_int8(_t(spark, sf_dir, "embeddings"), k=10)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_pq(spark, sf_dir):
    # s07: product-quantization / ADC top-k — approximate by
    # construction (codes lose information; ADC score is an estimate
    # of cosine), so rows-only driver check like the LSH/IVF rungs;
    # recall-vs-exact is pinned in tests/test_operators.py
    res = similarity.ann_pq_topk(_t(spark, sf_dir, "embeddings"), k=10)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_ivfpq(spark, sf_dir):
    # s08: IVF-PQ + refine, the production FAISS composition — cell
    # pruning (s05) × code scoring (s07) × exact rerank; approximate
    # by construction → rows-only, recall floor pinned in pytest
    res = similarity.ann_ivfpq_topk(_t(spark, sf_dir, "embeddings"), k=10)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_lsh(spark, sf_dir):
    res = similarity.ann_lsh_topk(_t(spark, sf_dir, "embeddings"), k=10)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_ivf(spark, sf_dir):
    # IVF coarse-quantization ANN (multi-probe) — approximate by
    # construction (rows-only; subset-of-exact asserted in pytest)
    res = similarity.ann_ivf_topk(
        _t(spark, sf_dir, "embeddings"), k=10, n_centroids=32, n_probe=4
    )
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_emb_neardup(spark, sf_dir):
    # exact all-pairs variant: the recall oracle for s04 (never the
    # production path — neardup_pairs defaults to bucketed=True)
    pairs = similarity.neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.45, bucketed=False
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))


def _q_emb_neardup_lsh(spark, sf_dir):
    # scale path: banded-SRP candidates + exact cosine verify; pairs
    # are a subset of s03's exact pairs (recall ~0.91 at τ=0.45),
    # asserted in tests/test_operators.py.  r=4/b=12 pinned explicitly
    # for cross-round byte-stability of this driver row; the API
    # default now derives the banding from the threshold
    # (similarity.srp_params_for_threshold).
    pairs = similarity.neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.45, bucketed=True,
        band_planes=4, n_bands=12,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))


def _q_multimodal_meta(spark, sf_dir):
    media = multimodal.with_media_payload(_t(spark, sf_dir, "documents"))
    meta = multimodal.decode_media(media)
    return meta.select("doc_id", "n_bytes", "width", "height", "channels")


def _q_media_resize(spark, sf_dir):
    media = multimodal.with_media_payload(_t(spark, sf_dir, "documents"))
    return multimodal.resize_plan(multimodal.decode_media(media))


def _q_media_frames(spark, sf_dir):
    media = multimodal.with_media_payload(_t(spark, sf_dir, "documents"))
    return multimodal.frame_sample(multimodal.decode_media(media))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q_pricing_summary,
        "q02_top_unshipped": _q_top_unshipped,
        "q03_semi_join": _q_semi_join,
        "q04_anti_join": _q_anti_join,
        "q05_broadcast_dim": _q_broadcast_dim,
        "q06_latest_event": _q_latest_event,
        "q07_sessionize": _q_sessionize,
        "q08_hourly_window": _q_hourly_window,
        "q09_running_value": _q_running_value,
        "f01_frontier_schedule": _q_frontier_schedule,
        "f02_frontier_seen": _q_frontier_seen,
        "f03_frontier_robots": _q_frontier_robots,
        "f04_crawl_records": _q_crawl_records,
        "f05_frontier_seen_cuckoo": _q_frontier_seen_cuckoo,
        "t01_text_tokens": _q_text_tokens,
        "t02_text_langid": _q_text_langid,
        "t03_text_quality": _q_text_quality,
        "t04_text_fingerprint": _q_text_fingerprint,
        "t05_text_langid_multi": _q_text_langid_multi,
        "d01_dedup_exact": _q_dedup_exact,
        "d02_dedup_jaccard": _q_dedup_jaccard,
        "d03_dedup_minhash": _q_dedup_minhash,
        "d04_dedup_simhash": _q_dedup_simhash,
        "d05_dedup_jaccard_capped": _q_dedup_jaccard_capped,
        "s01_ann_topk": _q_ann_topk,
        "s02_ann_lsh": _q_ann_lsh,
        "s03_emb_neardup": _q_emb_neardup,
        "s04_emb_neardup_lsh": _q_emb_neardup_lsh,
        "s05_ann_ivf": _q_ann_ivf,
        "m01_multimodal_meta": _q_multimodal_meta,
        "m02_media_resize": _q_media_resize,
        "m03_media_frames": _q_media_frames,
        "q10_asof_join": _q_asof_join,
        "q11_range_join": _q_range_join,
        "f06_frontier_seen_bloom": _q_frontier_seen_bloom,
        "d06_dedup_clusters": _q_dedup_clusters,
        "t06_corpus_stats": _q_corpus_stats,
        "t07_sample_stratified": _q_sample_stratified,
        "t08_top_ngrams": _q_top_ngrams,
        "t09_text_gopher": _q_text_gopher,
        "p01_clean_corpus": _q_clean_corpus,
        "d07_span_dupfrac": _q_span_dupfrac,
        "p02_pack_sequences": _q_pack_sequences,
        "t10_unigram_logprob": _q_unigram_logprob,
        "p03_pack_clean_corpus": _q_pack_clean_corpus,
        "p04_clean_full": _q_clean_full,
        "t11_benchmark_contamination": _q_benchmark_contamination,
        "p05_clean_decontaminated": _q_clean_decontaminated,
        "t12_classifier_score": _q_classifier_score,
        "d08_span_dupfrac_capped": _q_span_dupfrac_capped,
        "t13_pii_scrub": _q_pii_scrub,
        "t14_dedup_lines": _q_dedup_lines,
        "d09_span_rewrite": _q_span_rewrite,
        "p06_clean_span_rewritten": _q_clean_span_rewritten,
        "t15_mix_sample": _q_mix_sample,
        "t16_classifier_train": _q_classifier_train,
        "t17_mix_quota": _q_mix_quota,
        "p07_mix_pack": _q_mix_pack,
        "p08_clean_decontam_rewritten": _q_clean_decontam_rewritten,
        "d10_dedup_lines_global": _q_dedup_lines_global,
        "t18_badwords": _q_badwords,
        "f07_url_filter": _q_url_filter,
        "p09_clean_badwords": _q_clean_badwords,
        "f08_link_graph": _q_link_graph,
        "f09_host_rank": _q_host_rank,
        "f34_trustrank": _q_trustrank,
        "f35_opic": _q_opic,
        "f36_reshard": _q_reshard,
        "f37_host_boilerplate": _q_host_boilerplate,
        "f38_canonical_collapse": _q_canonical_collapse,
        "f39_weighted_budget": _q_weighted_budget,
        "d16_cdc_chunks": _q_cdc_chunks,
        "f10_sitemap_scan": _q_sitemap_scan,
        "f11_robots_parse": _q_robots_parse,
        "f12_snapshot_churn": _q_snapshot_churn,
        "f13_recrawl": _q_recrawl,
        "f14_discovery_schedule": _q_discovery_schedule,
        "f15_queue_budget": _q_queue_budget,
        "f16_host_skew": _q_host_skew,
        "p10_crawl_clean": _q_crawl_clean,
        "t19_repetition": _q_repetition,
        "t20_c4_filter": _q_c4_filter,
        "t21_ccnet_buckets": _q_ccnet_buckets,
        "f17_warc_scan": _q_warc_scan,
        "f18_hop_distance": _q_hop_distance,
        "p11_clean_c4": _q_clean_c4,
        "d11_cross_corpus": _q_cross_corpus,
        "t22_normalize_punct": _q_normalize_punct,
        "t23_chunk_documents": _q_chunk_documents,
        "p12_ccnet_pack": _q_ccnet_pack,
        "f19_robots_gate": _q_robots_gate,
        "t24_dsir_weights": _q_dsir_weights,
        "f20_trap_hosts": _q_trap_hosts,
        "f21_resolve_redirects": _q_resolve_redirects,
        "f22_anchor_texts": _q_anchor_texts,
        "t25_boilerplate": _q_boilerplate,
        "t26_page_metadata": _q_page_metadata,
        "t27_fix_mojibake": _q_fix_mojibake,
        "f23_curate_hosts": _q_curate_hosts,
        "f24_linkfarm_hosts": _q_linkfarm_hosts,
        "f25_url_spam": _q_url_spam,
        "m04_sniff_mime": _q_sniff_mime,
        "p13_host_curated_clean": _q_host_curated_clean,
        "t28_char_entropy": _q_char_entropy,
        "t29_assign_splits": _q_assign_splits,
        "t30_bigram_logprob": _q_bigram_logprob,
        "t31_dsir_select": _q_dsir_select,
        "d12_cluster_best": _q_cluster_best,
        "p14_split_pack": _q_split_pack,
        "m05_media_phash": _q_media_phash,
        "m06_phash_pairs": _q_phash_pairs,
        "t32_score_sample": _q_score_sample,
        "p15_clean_entropy": _q_clean_entropy,
        "p16_clean_full_best": _q_clean_full_best,
        "f26_autothrottle": _q_autothrottle,
        "t33_source_drift": _q_source_drift,
        "d13_media_cluster_best": _q_media_cluster_best,
        "t34_bm25": _q_bm25,
        "f27_hits": _q_hits,
        "t35_winnow": _q_winnow,
        "d14_containment": _q_containment,
        "d15_semantic_dedup": _q_semdedup,
        "s06_ann_int8": _q_ann_int8,
        "f28_mirror_hosts": _q_mirror_hosts,
        "f29_soft404": _q_soft404,
        "p17_clean_mirror_dedup": _q_clean_mirror_dedup,
        "p18_clean_soft404": _q_clean_soft404,
        "f30_sitemap_gap": _q_sitemap_gap,
        "t36_readability": _q_readability,
        "f31_focused_priority": _q_focused_priority,
        "f32_dust_params": _q_dust_params,
        "f33_dust_apply": _q_dust_apply,
        "t37_lexical_stats": _q_lexical_stats,
        "t38_cluster_cap": _q_cluster_cap,
        "t39_contamination_bloom": _q_contamination_bloom,
        "p19_clean_readable": _q_clean_readable,
        "p20_clean_semdedup": _q_clean_semdedup,
        "p21_balanced_pack": _q_balanced_pack,
        "s07_ann_pq": _q_ann_pq,
        "f40_retry_schedule": _q_retry_schedule,
        "s08_ann_ivfpq": _q_ann_ivfpq,
        "p22_clean_dupline": _q_clean_dupline,
        "t41_sketch_stats": _q_sketch_stats,
        "f41_retry_gate": _q_retry_gate,
        "t42_kn_bigram": _q_kn_bigram,
        "f42_ip_schedule": _q_ip_schedule,
        "f43_content_seen": _q_content_seen,
        "t43_cms_heavy": _q_cms_heavy,
        "t44_gzip_ratio": _q_gzip_ratio,
        "t45_gopher_lines": _q_gopher_lines,
        "p23_clean_gopherlines": _q_clean_gopherlines,
        "d17_cross_corpus_lsh": _q_cross_corpus_lsh,
        "f44_politeness_audit": _q_politeness_audit,
        "m07_scene_cuts": _q_scene_cuts,
        "t46_subword_stats": _q_subword_stats,
        "p24_subword_pack": _q_subword_pack,
        "p25_curriculum_pack": _q_curriculum_pack,
        "f45_aged_budget": _q_aged_budget,
        "t47_pipeline_funnel": _q_pipeline_funnel,
        "f46_sitemap_recrawl": _q_sitemap_recrawl,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL mirrors)
# ---------------------------------------------------------------------------

# explicit whitespace class + explicit regex edge-trim, NOT \s / trim:
# Java regex \s includes \x0b where RE2/DuckDB \s does not, and DuckDB
# trim strips Unicode spaces where Spark/Python strip only ASCII —
# this pair reads identically in Java, RE2, and Python re
# (textops.WS_CLASS / WS_EDGE; divergences found by hypothesis).
_TOKS = (
    "regexp_split_to_array(regexp_replace(lower(text), "
    "'^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$', '', 'g'), "
    "'[ \\t\\n\\f\\r]+')"
)
_CENTS = "floor({x} * 100 + 0.5)::BIGINT"

_STOPWORDS_SQL = "['" + "','".join(textops.EN_STOPWORDS) + "']"

# Gopher signal columns over a CTE ``s(doc_id, text, toks)`` — shared
# by t09 (standalone signals) and p01 (clean-corpus pipeline) so the
# two mirrors cannot drift.
_GOPHER_M_COLS = f"""
                     len(toks)::BIGINT AS token_cnt,
                     list_reduce(list_prepend(0::BIGINT,
                       list_transform(toks, t -> length(t)::BIGINT)),
                       (a, b) -> a + b)::DOUBLE AS chars,
                     len(list_filter(toks,
                       t -> regexp_matches(t, '[a-z]')))::DOUBLE AS alpha,
                     len(list_filter(toks,
                       t -> list_contains({_STOPWORDS_SQL}, t))
                     )::BIGINT AS stop_cnt,
                     len(list_filter(toks,
                       t -> contains(t, '#') OR ends_with(t, '...')
                     ))::DOUBLE AS sym,
                     list_transform(range(len(toks) - 1),
                       i -> toks[i+1] || ' ' || toks[i+2]) AS bigrams"""
_GOPHER_DUP_SQL = """CASE WHEN len(bigrams) > 0 THEN
                       1.0 - len(list_distinct(bigrams))::DOUBLE
                             / len(bigrams)::DOUBLE
                     ELSE 0.0 END"""
_GOPHER_PASS_SQL = """token_cnt >= 40 AND token_cnt <= 100000
                         AND chars / token_cnt >= 2.0
                         AND chars / token_cnt <= 12.0
                         AND alpha / token_cnt >= 0.8
                         AND stop_cnt >= 2
                         AND sym / token_cnt <= 0.1
                         AND dup_frac <= 0.2"""

_LANG_LISTS_SQL = {
    lang: "['" + "','".join(words) + "']"
    for lang, words in sorted(textops.LANG_PROFILES.items())
}

# p01 body — also embedded as the `cleaned` CTE of the p03
# composition so the two mirrors cannot drift
_P01_SQL_TMPL = f"""
    WITH s AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, text,{_GOPHER_M_COLS},
             list_reduce(list_prepend(0::BIGINT,
               list_transform(toks,
                 t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647
             ) AS fingerprint
      FROM s
    ), g AS (
      SELECT *, {_GOPHER_DUP_SQL} AS dup_frac FROM m
    ), p AS (
      SELECT * FROM g WHERE {_GOPHER_PASS_SQL}{{extra_gate}}
    ), k AS (
      SELECT *, row_number() OVER (
        PARTITION BY md5(text) ORDER BY doc_id
      ) AS rn FROM p
    )
    SELECT doc_id,
           CASE WHEN stop_cnt::DOUBLE / token_cnt::DOUBLE >= 0.04
                THEN 'en' ELSE 'und' END AS guessed_lang,
           token_cnt,
           fingerprint
    FROM k WHERE rn = 1
"""
_P01_SQL = _P01_SQL_TMPL.format(extra_gate="")

# p23: line-structured input synthesis (4-token re-chunk; bullet /
# ellipsis decoration by doc_id class) + the t45 line-format gate as
# an extra WHERE term — the trimmed-nonempty-lines expression is one
# Python constant expanded in place so the four uses cannot drift
_P23_CTES = f"""p23toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), p23_docs AS (
              SELECT doc_id,
                array_to_string(list_transform(range((len(t)+3) // 4),
                  i -> CASE WHEN doc_id % 5 = 0 THEN '•' ELSE '' END
                       || array_to_string(t[i*4+1:i*4+4], ' ')
                       || CASE WHEN doc_id % 5 = 1 THEN '…' ELSE '' END),
                  chr(10)) AS text
              FROM p23toks
            )"""
_P23_NL = (
    "list_filter(list_transform(string_split(text, chr(10)), "
    "l -> regexp_replace(l, "
    "'^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$', '', 'g')), "
    "l -> length(l) > 0)"
)
_P23_LINE_GATE = (
    f" AND coalesce((len(list_filter({_P23_NL},"
    f" l -> substr(l, 1, 1) IN ('•', '-', '*')))::DOUBLE"
    f" / len({_P23_NL})::DOUBLE) <= 0.9, true)"
    f" AND coalesce((len(list_filter({_P23_NL},"
    f" l -> ends_with(l, '...') OR ends_with(l, '…')))::DOUBLE"
    f" / len({_P23_NL})::DOUBLE) <= 0.3, true)"
)


# f40/f41 shared retry-state SQL: synthesized attempt log, status
# classes, trailing-run counting, exact backoff — rendered into BOTH
# the f40 oracle and the f41 gate composition so the mirrors cannot
# drift
_F40_SQL = """
            WITH log AS (
              SELECT 'u' || doc_id AS url,
                     ((doc_id * 10 + i) * 1000000)::BIGINT AS ts,
                     CASE WHEN doc_id % 7 = 3 AND i = doc_id % 4
                            THEN 404
                          WHEN (doc_id + i) % 3 = 0 THEN 200
                          WHEN (doc_id + i) % 5 = 0 THEN 429
                          ELSE 503 END AS status
              FROM documents,
                   unnest(generate_series(0, doc_id % 4)) AS t(i)
            ), cls AS (
              SELECT url, ts,
                     (status >= 200 AND status < 400) AS ok,
                     (status >= 500 OR status IN (429, 408)) AS tr
              FROM log
            ), lo AS (
              SELECT url, max(CASE WHEN ok THEN ts END) AS last_ok
              FROM cls GROUP BY url
            ), tails AS (
              SELECT c.url, count(*)::BIGINT AS attempts,
                     sum(CASE WHEN (lo.last_ok IS NULL
                                    OR c.ts > lo.last_ok) AND c.tr
                         THEN 1 ELSE 0 END)::BIGINT AS trailing_fails,
                     sum(CASE WHEN (lo.last_ok IS NULL
                                    OR c.ts > lo.last_ok)
                                   AND NOT c.tr AND NOT c.ok
                         THEN 1 ELSE 0 END)::BIGINT AS perm,
                     max(c.ts) AS last_ts
              FROM cls c JOIN lo USING (url) GROUP BY c.url
            )
            SELECT url, attempts, trailing_fails,
                   CASE WHEN perm > 0 THEN 'failed'
                        WHEN trailing_fails = 0 THEN 'done'
                        WHEN trailing_fails > 2 THEN 'gave_up'
                        ELSE 'retry' END AS state,
                   CASE WHEN perm = 0
                             AND trailing_fails BETWEEN 1 AND 2
                        THEN last_ts + least(86400000000,
                          floor(60000000 *
                                power(2, trailing_fails - 1))::BIGINT)
                        END AS next_attempt_us
            FROM tails
        """

# d10/p22 shared CTEs: 4-token re-chunk, per-line corpus-wide
# first-occurrence winner (min encoded doc/line key), keep flag —
# rendered into BOTH the d10 oracle and the p22 doc-drop composition
# so the two mirrors cannot drift
_D10_CTES = f"""toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), s0 AS (
              SELECT doc_id,
                     list_transform(range((len(t) + 3) // 4),
                       i -> array_to_string(t[i*4+1:i*4+4], ' ')) AS ls
              FROM toks
            ), l AS (
              SELECT doc_id, u.i - 1 AS i, u.line AS line
              FROM (SELECT doc_id,
                           unnest(list_transform(ls,
                             (x, j) -> {{'i': j, 'line': x}})) AS u
                    FROM s0)
            ), w AS (
              SELECT line, min(doc_id * 1000000000 + i) AS wk
              FROM l GROUP BY line
            ), kl AS (
              SELECT l.doc_id, l.i, l.line,
                     (l.doc_id * 1000000000 + l.i = w.wk
                      OR length(l.line) < 1) AS keep
              FROM l JOIN w USING (line)
            )"""

# f28/p17 shared mirror-host CTEs: planted content layout mod 10
# (host 1 = full mirror of host 0, host 3 mirrors host 2 on even
# slots only), md5 content identity, pair counts with the smaller-
# host coverage — rendered into BOTH the f28 oracle and the p17
# composition so the two mirrors cannot drift
_MIRROR_CTES = """mp AS (
              SELECT DISTINCT
                'h' || (doc_id % 10) || '.example.com' AS host,
                md5('c-' || floor(doc_id / 10)::BIGINT || '-' ||
                    (CASE WHEN doc_id % 10 = 1 THEN 0
                          WHEN doc_id % 10 = 3
                               AND floor(doc_id / 10)::BIGINT % 2 = 0
                          THEN 2
                          ELSE doc_id % 10 END)) AS content
              FROM documents
            ), msz AS (
              SELECT host, count(*)::BIGINT AS n FROM mp GROUP BY host
            ), mpr AS (
              SELECT a.host AS host_a, b.host AS host_b,
                     count(*)::BIGINT AS shared
              FROM mp a JOIN mp b
                ON a.content = b.content AND a.host < b.host
              GROUP BY 1, 2 HAVING count(*) >= 3
            )"""

_MIRROR_PAIRS_SQL = (
    "WITH " + _MIRROR_CTES + """
            SELECT host_a, host_b, shared,
                   sa.n AS n_a, sb.n AS n_b,
                   round(shared * 100.0 / least(sa.n, sb.n), 9)
                     AS overlap_pct,
                   (shared * 100 >= 80 * least(sa.n, sb.n))::INT
                     AS flagged
            FROM mpr
            JOIN msz sa ON sa.host = host_a
            JOIN msz sb ON sb.host = host_b
            ORDER BY host_a, host_b
        """
)

# f29/p18 shared soft-404 CTEs: planted page synthesis (every 17th
# doc a full error page, every 23rd a long article quoting the
# phrase) + the detector's regex constants — rendered into BOTH the
# f29 oracle and the p18 composition so the mirrors cannot drift
_SOFT404_CTES = ("""sp AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 17 = 0 THEN '404 Not Found'
                          ELSE 'Doc ' || doc_id END AS title,
                     CASE WHEN doc_id % 17 = 0
                          THEN 'The page you requested was not found'
                               || ' on this server.'
                          WHEN doc_id % 23 = 0
                          THEN 'Review: the phrase page not found'
                               || ' appears in this long discussion. '
                               || text
                          ELSE text END AS body
              FROM documents
            ), sfl AS (
              SELECT doc_id, body,
                     regexp_matches(lower(title), '"""
                 + boilerplate.SOFT404_TITLE_RE + """')::INT AS nf_title,
                     regexp_matches(lower(body), '"""
                 + boilerplate.SOFT404_PHRASE_RE + """')::INT AS nf_phrase,
                     (length(body) < 200)::INT AS thin
              FROM sp
            )""")

# p17: the f28 keep-one rule (drop the lexicographically larger member
# of every flagged pair) applied BEFORE the p01 cleaning pipeline
_MIRROR_LOSERS_CTE = """, losers AS (
              SELECT DISTINCT mpr.host_b AS host
              FROM mpr
              JOIN msz sa ON sa.host = mpr.host_a
              JOIN msz sb ON sb.host = mpr.host_b
              WHERE mpr.shared * 100 >= 80 * least(sa.n, sb.n)
            )"""
# p09 extra gate: the t18 banned-word predicate ANDed into the p01
# gate (any-hit-drops); re-derives the tokens from the in-scope text
# column — the oracle's correctness mirror of the Spark side's
# zero-extra-cost fold in the already-bound token array
_P09_BADWORDS_GATE = (
    f" AND len(list_filter({_TOKS}, "
    f"x -> list_contains({{badwords}}, x))) = 0"
)

# p19: the t36 Flesch band ANDed into the p01 gate — token_cnt comes
# from the in-scope gopher columns, syllables re-fold from the text
# column via the same contract tokenizer (the p09 precedent), the
# sentence count is one regex; constants render from textops
_P19_FRE_MIN = 20.0
_P19_FRE_GATE = (
    " AND ({base} - {wps} * (token_cnt::DOUBLE"
    " / greatest(1, len(regexp_extract_all(text, '{sent}')))::DOUBLE)"
    " - {spw} * (list_reduce(list_prepend(0::BIGINT,"
    " list_transform({toks}, t2 -> greatest(1,"
    " len(regexp_extract_all(t2, '{vow}')))::BIGINT)),"
    " (a, b) -> a + b)::DOUBLE / token_cnt::DOUBLE)"
    " >= {lo})"
)

# p04/p05/p06 shared tail pieces: near-dup cluster removal
# (exact-Jaccard pairs + recursive-CTE connected components,
# mirroring d02/d06) over a `cleaned` CTE the caller supplies, down
# to the `kept` set — then packed-sequence layout (p02's running
# count) over `{src}`.  p04/p05 pack `kept` directly;
# p06 inserts the span-rewrite CTEs between the two.
_CLEAN_FULL_COMP_SQL = """
            toks2 AS (
              SELECT d.doc_id, {toks} AS t
              FROM documents d JOIN cleaned c ON c.doc_id = d.doc_id
            ), sh AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks2, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), sizes AS (
              SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     count(*)::BIGINT AS ni
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), prs AS (
              SELECT da, db FROM inter
              JOIN sizes sa ON sa.doc_id = da
              JOIN sizes sb ON sb.doc_id = db
              WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.8
            ), edges AS (
              SELECT da AS u, db AS v FROM prs
              UNION SELECT db, da FROM prs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS cluster_id
              FROM reach GROUP BY u
            )"""

# the two cluster-representative rules over the shared component
# CTEs: MIN (p04/p05/p06/p08 — keep the smallest id) and BEST
# (p16 — keep the highest-token-count member, min id on ties, the
# d12 rule composed into the flagship pipeline)
_KEPT_MIN_SQL = """, kept AS (
              SELECT c.* FROM cleaned c
              LEFT JOIN comp ON comp.doc_id = c.doc_id
              WHERE coalesce(comp.cluster_id, c.doc_id) = c.doc_id
            )"""
_KEPT_BEST_SQL = """, clsq AS (
              SELECT c.doc_id,
                     coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
                     c.token_cnt
              FROM cleaned c LEFT JOIN comp ON comp.doc_id = c.doc_id
            ), kqm AS (
              SELECT cluster_id, max(token_cnt) AS qmax
              FROM clsq GROUP BY cluster_id
            ), krep AS (
              SELECT clsq.cluster_id, min(doc_id) AS rep
              FROM clsq JOIN kqm ON clsq.cluster_id = kqm.cluster_id
                               AND clsq.token_cnt = kqm.qmax
              GROUP BY clsq.cluster_id
            ), kept AS (
              SELECT c.* FROM cleaned c
              JOIN krep ON krep.rep = c.doc_id
            )"""

_PACK_TAIL_SQL = """, laid AS (
              SELECT *,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM {src}
            )
            SELECT doc_id, guessed_lang, token_cnt,{extra} fingerprint,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM laid
"""

_CLEAN_FULL_KEPT_SQL = _CLEAN_FULL_COMP_SQL + _KEPT_MIN_SQL
_CLEAN_FULL_KEPT_BEST_SQL = _CLEAN_FULL_COMP_SQL + _KEPT_BEST_SQL

_CLEAN_FULL_TAIL_SQL = (
    _CLEAN_FULL_KEPT_SQL + _PACK_TAIL_SQL.format(src="kept", extra="")
)

# p06 rewrite CTEs: duplicate-span removal over the kept set — span
# frequencies counted over exactly the texts being rewritten (w=3,
# min_count=2, the d09 rule); token j survives iff no duplicated
# span's 3-token window covers it (1-based positions throughout)
_SPAN_RW_SQL = """, spt AS (
              SELECT t2.doc_id, t2.t
              FROM toks2 t2 JOIN kept ON kept.doc_id = t2.doc_id
            ), spx AS (
              SELECT doc_id, i AS st,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM spt, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), sfreq AS (
              SELECT s, count(*) AS f FROM spx GROUP BY s
            ), covx AS (
              SELECT DISTINCT spx.doc_id, spx.st + o.o AS i
              FROM spx JOIN sfreq USING (s), unnest(range(0, 3)) AS o(o)
              WHERE f >= 2
            ), tokposx AS (
              SELECT doc_id, i
              FROM spt, unnest(range(1, len(t) + 1)) AS r(i)
            ), rwcnt AS (
              SELECT tp.doc_id, count(*)::BIGINT AS kept_n
              FROM tokposx tp
              LEFT JOIN covx ON covx.doc_id = tp.doc_id
                            AND covx.i = tp.i
              WHERE covx.i IS NULL
              GROUP BY tp.doc_id
            ), rw AS (
              SELECT k.doc_id, k.guessed_lang,
                     COALESCE(r.kept_n, 0)::BIGINT AS token_cnt,
                     (k.token_cnt - COALESCE(r.kept_n, 0))::BIGINT
                       AS removed_cnt,
                     k.fingerprint
              FROM kept k LEFT JOIN rwcnt r ON r.doc_id = k.doc_id
            )"""

# t11/p05 shared 13-gram construction: one space-joined gram per
# start position over the _TOKS token array (mirrors
# dedup.shingles_col at n=13; list_slice/array_to_string ≡
# concat_ws over 13 elements)
_G13 = "array_to_string(list_slice(t, i, i+12), ' ')"
_G13_RANGE = "unnest(range(1, len(t) - 11)) AS r(i)"
_BENCH_RULE = "doc_id % 7 = 2"

# p05/p08 shared prefix: gate + exact dedup (p01 body), then drop
# gate+dedup survivors sharing any 13-gram with the held-out slice —
# one module-level string, so the two pipeline mirrors cannot drift
_P05_PREFIX_SQL = f"""
            WITH RECURSIVE cleaned0 AS ({_P01_SQL}),
            toksall AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), bench AS (
              SELECT DISTINCT {_G13} AS g
              FROM toksall, {_G13_RANGE}
              WHERE len(t) >= 13 AND {_BENCH_RULE}
            ), dirty AS (
              SELECT DISTINCT dgr.doc_id FROM (
                SELECT tk.doc_id, {_G13} AS g
                FROM (SELECT c0.doc_id, ta.t
                      FROM toksall ta
                      JOIN cleaned0 c0 ON c0.doc_id = ta.doc_id
                     ) tk, {_G13_RANGE}
                WHERE len(t) >= 13
              ) dgr JOIN bench b ON b.g = dgr.g
            ), cleaned AS (
              SELECT * FROM cleaned0
              WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
            ),"""

# t12: the classifier's weight vector as a SQL literal — generated
# from the SAME Python list the Spark plan bakes in, so the two
# mirrors cannot drift
_CLS_W_SQL = ("[" + ",".join(
    repr(w) for w in textops.default_quality_weights()
) + "]")
_CLS_N = len(textops.default_quality_weights())
# t12/t32 shared classifier-score mirror (one text for the standalone
# score row and the score-proportional sampler)
_CLS_SCORE_CTES = f"""clss AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), clsm AS (
              SELECT doc_id, len(toks)::BIGINT AS token_cnt,
                     round(1.0 / (1.0 + exp(-(
                       list_reduce(list_prepend(0.0::DOUBLE,
                         list_transform(toks,
                           t -> ({_CLS_W_SQL})[
                             (('0x' || substr(md5(t), 1, 15))::BIGINT
                              % {_CLS_N}) + 1])),
                         (a, b) -> a + b)
                       / len(toks)::DOUBLE + 0.0))), 6) AS cls_score
              FROM clss
            )"""
_LANG_RATIO_SQL = {
    lang: (f"len(list_filter({{toks}}, t -> list_contains({lst}, t)))"
           f"::DOUBLE / len({{toks}})::DOUBLE")
    for lang, lst in _LANG_LISTS_SQL.items()
}

# d06: the d02/d03 exact pair graph, closed transitively (recursive
# CTE), then every document labeled with its component minimum.
# Split into the CTE chain + final select so d12 (quality-aware
# representative selection) can extend the SAME component SQL — the
# shared-constant drift guard.
_CLUSTERS_CTES = """toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT da, db FROM inter
  JOIN sizes sa ON sa.doc_id = da
  JOIN sizes sb ON sb.doc_id = db
  WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.8
), edges AS (
  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), clusters AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)""".format(toks=_TOKS)

_CLUSTERS_SQL = (
    "WITH RECURSIVE " + _CLUSTERS_CTES
    + "\nSELECT doc_id, cluster_id FROM clusters"
)

# t24/t31 shared DSIR mirror: identical md5 target bucket, identical
# md5 token-hash buckets, add-one smoothing, mean per-token log ratio
# (round 6, the ln contract of t10).  CTE chain + final select split
# so t31's Gumbel-top-k selection extends the same SQL.
_DSIR_CTES = f"""dsirs AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':dsir'),
                                     1, 4))::BIGINT
                       < {textops.DSIR_TARGET_BPS} AS is_target,
                     {_TOKS} AS toks
              FROM documents
            ), dsirtok AS (
              SELECT doc_id, is_target,
                     ('0x' || substr(md5(t), 1, 15))::BIGINT
                       % {textops.DSIR_BUCKETS} AS bucket
              FROM dsirs, unnest(toks) AS u(t)
            ), dsirbc AS (
              SELECT bucket, count(*)::BIGINT AS raw_cnt,
                     sum(CASE WHEN is_target THEN 1 ELSE 0
                         END)::BIGINT AS tgt_cnt
              FROM dsirtok GROUP BY bucket
            ), dsirtot AS (
              SELECT sum(raw_cnt)::BIGINT AS raw_total,
                     sum(tgt_cnt)::BIGINT AS tgt_total
              FROM dsirbc
            ), dsirw AS (
              SELECT bucket,
                     ln((tgt_cnt + 1)::DOUBLE
                        / (tgt_total + {textops.DSIR_BUCKETS})::DOUBLE)
                     - ln((raw_cnt + 1)::DOUBLE
                          / (raw_total
                             + {textops.DSIR_BUCKETS})::DOUBLE)
                       AS logratio
              FROM dsirbc, dsirtot
            )"""
_DSIR_FINAL = """
            SELECT doc_id, is_target,
                   count(*)::BIGINT AS token_cnt,
                   round(avg(logratio), 6) AS dsir_weight
            FROM dsirtok JOIN dsirw USING (bucket)
            GROUP BY doc_id, is_target"""

_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da AS doc_a, db AS doc_b,
       round(ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE, 9) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.8
""".format(toks=_TOKS)

# d14 mirror: same inverted shingle index as d02 but the asymmetric
# containment ratios |A∩B|/|A| and |A∩B|/|B| (Broder containment)
# instead of resemblance; flagged when the larger direction >= 0.8
_CONTAINMENT_SQL = """
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da AS doc_a, db AS doc_b,
       round(ni::DOUBLE / sa.n::DOUBLE, 9) AS cont_a,
       round(ni::DOUBLE / sb.n::DOUBLE, 9) AS cont_b,
       round(greatest(ni::DOUBLE / sa.n::DOUBLE,
                      ni::DOUBLE / sb.n::DOUBLE), 9) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE greatest(ni::DOUBLE / sa.n::DOUBLE,
               ni::DOUBLE / sb.n::DOUBLE) >= 0.8
""".format(toks=_TOKS)

# d05 mirror: identical to d02 but shingles with document frequency
# > 20 are pruned from the index AND the set sizes before the join —
# the stop-shingle guardrail measure.
_JACCARD_CAPPED_SQL = """
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
), rare AS (
  SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 20
), sh AS (
  SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da AS doc_a, db AS doc_b,
       round(ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE, 9) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.8
""".format(toks=_TOKS)

# d04 mirror: the simhash fingerprint is fully portable (md5-60-bit
# token hash mod 2^31-1, fixed SplitMix64 universal-hash constants),
# so DuckDB recomputes the per-bit votes and counts differing sign
# bits — exactly bit_count(xor) of the packed fingerprints.  The
# Spark side's band-pigeonhole join is a candidate *generator* only
# (lossless for hamming ≤ 3 by pigeonhole), so the all-pairs mirror
# is the correct oracle.
_SIMHASH_A = "[" + ",".join(
    str(a) for a, _ in dedup._perm_consts(64)) + "]"
_SIMHASH_B = "[" + ",".join(
    str(b) for _, b in dedup._perm_consts(64)) + "]"

_SIMHASH_SQL = f"""
WITH consts AS (SELECT {_SIMHASH_A} AS ca, {_SIMHASH_B} AS cb),
hs AS (
  SELECT doc_id,
         list_transform({_TOKS},
           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS h
  FROM documents
),
bits AS (
  SELECT doc_id,
         list_transform(range(1, 65), b ->
           list_reduce(list_prepend(0::BIGINT,
             list_transform(h,
               x -> (((ca[b] * x + cb[b]) % 2147483647) & 1) * 2 - 1)),
             (p, q) -> p + q) > 0) AS bv
  FROM hs, consts
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_filter(range(1, 65), i -> a.bv[i] != b.bv[i]))::BIGINT
         AS hamming
FROM bits a JOIN bits b ON a.doc_id < b.doc_id
WHERE len(list_filter(range(1, 65), i -> a.bv[i] != b.bv[i])) <= 3
"""

_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
)
_COS = (
    _DOT.format(a="qv", b="cv")
    + " / (sqrt(" + _DOT.format(a="qv", b="qv") + ")"
    + " * sqrt(" + _DOT.format(a="cv", b="cv") + "))"
)


def _cluster_assign_ctes(src: str, seed_mod: int = 61) -> str:
    """The seed-cluster assignment oracle chain (pts→seeds→asg→best)
    over a named source CTE of (vec_id, embedding) — the shared first
    half of the d15/p20 semdedup mirrors and the t38 cluster-cap
    mirror.  Mirrors operators/similarity.py:assign_clusters exactly:
    seed rule id % seed_mod, argmax-cosine assignment with
    smallest-seed tie-break (QUALIFY row_number is the window mirror
    of Spark's max-struct partial agg); the shared _DOT fold keeps
    every cosine bit-identical cross-engine."""
    return f"""pts AS (
              SELECT vec_id, embedding,
                     sqrt({_DOT.format(a='embedding', b='embedding')})
                       AS n
              FROM {src}
            ), seeds AS (
              SELECT vec_id AS seed_id, embedding AS sv, n AS sn
              FROM pts WHERE vec_id % {seed_mod} = 0 AND n > 0
            ), asg AS (
              SELECT p.vec_id, s.seed_id,
                     {_DOT.format(a='p.embedding', b='s.sv')}
                       / (p.n * s.sn) AS scos
              FROM pts p, seeds s WHERE p.n > 0
            ), best AS (
              SELECT vec_id, seed_id AS cluster, scos AS ccos
              FROM asg
              QUALIFY row_number() OVER (
                PARTITION BY vec_id ORDER BY scos DESC, seed_id ASC
              ) = 1
            )"""


def _semdedup_ctes(src: str, seed_mod: int = 61,
                   threshold: float = 0.45) -> str:
    """The full SemDeDup oracle chain: _cluster_assign_ctes plus the
    keep-order / upper-triangular drop tail (pts2→drp) — rendered into
    BOTH the d15 oracle and the p20 pipeline composition so the two
    mirrors cannot drift.  Keep order (ccos ASC, id ASC) and the
    over-threshold drop rule mirror semantic_dedup exactly."""
    return _cluster_assign_ctes(src, seed_mod) + f""", pts2 AS (
              SELECT b.vec_id, b.cluster, b.ccos, p.embedding, p.n
              FROM best b JOIN pts p USING (vec_id)
            ), drp AS (
              SELECT DISTINCT b.vec_id
              FROM pts2 a JOIN pts2 b ON a.cluster = b.cluster
               AND (a.ccos < b.ccos
                    OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
              WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
                      / (a.n * b.n) > {threshold}
            )"""

_ROBOTS_HOSTS = ", ".join(f"'h{i}.example.com'" for i in range(10))


def _q_frontier_seen_bloom(spark, sf_dir):
    # the OTHER membership backend the north rule names ("bloom/cuckoo
    # URL-seen"): sharded Bloom bit arrays probed via the same
    # cogroup/applyInPandas gate.  Approximate by construction (~6e-4
    # false-positive rate at 16 bits/key drops that fraction of new
    # URLs), so rows-only — the no-false-negative containment vs exact
    # mode is asserted in tests/test_frontier_seen.py.
    cand = _event_candidates(spark, sf_dir)
    admitted, _ = filter_unseen(cand, None, mode="bloom", num_shards=8)
    return admitted.select("url", "seq")


def _q_dedup_clusters(spark, sf_dir):
    # connected components over the MinHash-LSH near-dup graph: the
    # keep/drop decision per document.  LSH recall at the d03 settings
    # is 1-4.6e-8, so the exact-pair component oracle (recursive CTE)
    # is the correct check, exactly as for d03 itself.
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8)
    return dedup.dedup_clusters(docs, pairs)


def _q_range_join(spark, sf_dir):
    # q11: interval join — event value v into every nation tier whose
    # half-open [lo, hi) contains it (tiers deliberately OVERLAP via
    # the %3 widening, so this is a genuine multi-match join, not a
    # CASE bucketing); bucketized equi-join, never a nested-loop scan
    ev = _t(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % 1200).cast("long").alias("v"))
    tiers = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("tier"),
        (F.col("n_nationkey") * 40).cast("long").alias("lo"),
        (F.col("n_nationkey") * 40 + 40
         + (F.col("n_nationkey") % 3) * 20).cast("long").alias("hi"),
    )
    out = joins.range_join(ev, tiers, point_col="v",
                           lo_col="lo", hi_col="hi", bucket_width=64)
    return out.select("event_id", "v", "tier", "lo", "hi") \
        .orderBy("event_id", "tier")


def _q_asof_join(spark, sf_dir):
    # as-of join: for every 'view' event, the latest 'purchase' by the
    # same user at or before it — single-shuffle union+window plan (no
    # inequality join).  SURVEY §2.6: warc_ts gives the crawl corpus
    # this exact shape (page snapshot as of a fetch).
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    out = joins.asof_join(
        views, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id", "value"], right_seq="event_id",
    )
    return out.select(
        "event_id",
        _us(F.col("ts")).alias("ts_us"),
        "user_id",
        "value",
        "asof_event_id",
        "asof_value",
    )


def _q_corpus_stats(spark, sf_dir):
    cs = textops.corpus_stats(_t(spark, sf_dir, "documents"))
    return cs.select(
        "source", "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "total_chars",
        F.col("min_tokens").cast("long").alias("min_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
        F.round("avg_tokens", 9).alias("avg_tokens"),
    )


def _q_top_ngrams(spark, sf_dir):
    # corpus LM statistics: top-5 bigrams per language — explode →
    # map-side-combined count agg → window rank over the reduced table
    return textops.top_ngrams(
        _t(spark, sf_dir, "documents"), n=2, k=5, group_col="lang"
    ).select(
        "lang", "ngram",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_text_gopher(spark, sf_dir):
    # Gopher-rule filter signals + verdict — one codegen scan pass
    g = textops.gopher_quality(_t(spark, sf_dir, "documents"))
    return g.select(
        "doc_id",
        "token_cnt",
        F.round("mean_word_len", 9).alias("mean_word_len"),
        F.round("alpha_frac", 9).alias("alpha_frac"),
        "stopword_cnt",
        F.round("symbol_ratio", 9).alias("symbol_ratio"),
        F.round("dup_bigram_frac", 9).alias("dup_bigram_frac"),
        "passes",
    )


def _q_clean_corpus(spark, sf_dir):
    # end-to-end cleaning pipeline: one scan pass, gate before the
    # single (content-hash) shuffle
    from hepcrawl_spark.operators.corpus import clean_corpus

    return clean_corpus(_t(spark, sf_dir, "documents")).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_span_dupfrac(spark, sf_dir):
    # corpus-duplicated 3-token-span fraction (position-level exact
    # substring-dedup signal) per document
    from hepcrawl_spark.operators.dedup import span_dupfrac

    return span_dupfrac(
        _t(spark, sf_dir, "documents"), w=3, min_count=2
    ).select("doc_id", "span_cnt", "dup_spans", "dup_frac")


def _q_span_dupfrac_capped(spark, sf_dir):
    # d08: the d07 signal under the stop-span guardrail — spans
    # occurring more than max_span_df times corpus-wide are dropped
    # from the universe, bounding the hottest flag-join key
    from hepcrawl_spark.operators.dedup import span_dupfrac

    return span_dupfrac(
        _t(spark, sf_dir, "documents"), w=3, min_count=2, max_span_df=4
    ).select("doc_id", "span_cnt", "dup_spans", "dup_frac")


def _q_span_rewrite(spark, sf_dir):
    # d09: duplicate-span REMOVAL — the ExactSubstr rewrite (Lee et
    # al. 2022): every token covered by a corpus-duplicated 3-token
    # span is cut; cleaned_text is the surviving tokens space-joined
    from hepcrawl_spark.operators.dedup import span_rewrite

    return span_rewrite(
        _t(spark, sf_dir, "documents"), w=3, min_count=2
    ).select("doc_id", "token_cnt", "removed_cnt", "cleaned_text")


def _q_clean_span_rewritten(spark, sf_dir):
    # p06: the p04 pipeline + duplicate-span removal over the final
    # kept set — token_cnt becomes the post-rewrite count and the
    # packed layout is computed over the rewritten stream
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    inner = clean_corpus_full(_t(spark, sf_dir, "documents"),
                              capacity=512, span_rewrite_w=3)
    return inner.select("doc_id", "guessed_lang", "token_cnt",
                        "removed_cnt", "fingerprint", "seq_id",
                        "seq_offset")


def _q_pack_sequences(spark, sf_dir):
    # context-window packing layout via the exact two-phase global
    # cumsum (no unpartitioned window)
    from hepcrawl_spark.operators.corpus import pack_sequences

    inner = pack_sequences(_t(spark, sf_dir, "documents"), capacity=512)
    return inner.select("doc_id", "token_cnt", "seq_id", "seq_offset")


def _q_pack_clean_corpus(spark, sf_dir):
    # the full pipeline composition: gate + dedup (p01), then packed
    # training-sequence layout over the survivors (p02's two-phase
    # cumsum on the already-materialized token counts)
    from hepcrawl_spark.operators.corpus import (
        clean_corpus,
        pack_sequences,
    )

    cleaned = clean_corpus(_t(spark, sf_dir, "documents"))
    inner = pack_sequences(cleaned, capacity=512, count_col="token_cnt")
    return inner.select("doc_id", "guessed_lang", "token_cnt",
                        "fingerprint", "seq_id", "seq_offset")


def _q_clean_full(spark, sf_dir):
    # the flagship composition: Gopher gate → exact dedup →
    # MinHash-LSH near-dup cluster removal → packed sequence layout.
    # LSH recall at the d03 settings is 1-4.6e-8, so the exact-pair
    # recursive-CTE oracle is the correct check (as for d03/d06).
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    inner = clean_corpus_full(_t(spark, sf_dir, "documents"),
                              capacity=512)
    return inner.select("doc_id", "guessed_lang", "token_cnt",
                        "fingerprint", "seq_id", "seq_offset")


def _q_benchmark_contamination(spark, sf_dir):
    # t11: benchmark-decontamination signal — per-doc distinct
    # 13-gram containment vs a held-out eval set (here a
    # deterministic 1/7 slice of the corpus standing in for the
    # benchmark table, same rule on both engines)
    from hepcrawl_spark.operators.dedup import benchmark_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 2)
    return benchmark_contamination(docs, bench, n=13).select(
        "doc_id", "gram_cnt", "hit_cnt", "containment", "contaminated"
    )


def _q_clean_decontaminated(spark, sf_dir):
    # p05: the p04 pipeline with the benchmark-decontamination stage
    # enabled — gate → exact dedup → drop docs sharing a 13-gram with
    # the held-out slice → near-dup cluster removal → packed layout
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 2)
    inner = clean_corpus_full(docs, capacity=512, benchmark=bench)
    return inner.select("doc_id", "guessed_lang", "token_cnt",
                        "fingerprint", "seq_id", "seq_offset")


def _q_clean_decontam_rewritten(spark, sf_dir):
    # p08: decontamination AND duplicate-span removal composed — the
    # full production chain: gate → exact dedup → drop eval-
    # overlapping docs → near-dup cluster removal → span rewrite over
    # the kept set → packed layout over post-rewrite counts
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 2)
    inner = clean_corpus_full(docs, capacity=512, benchmark=bench,
                              span_rewrite_w=3)
    return inner.select("doc_id", "guessed_lang", "token_cnt",
                        "removed_cnt", "fingerprint", "seq_id",
                        "seq_offset")


def _q_unigram_logprob(spark, sf_dir):
    # corpus-LM (unigram) mean log-likelihood per document — the
    # perplexity-filter signal at unigram order
    return textops.unigram_logprob(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", "token_cnt", "mean_logprob")


def _q_classifier_score(spark, sf_dir):
    # t12: model-based quality classifier — logistic score of a
    # linear model over hashed token features (the fasttext-style
    # supervised filter), weights baked into the plan as a literal
    return textops.classifier_score(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", "token_cnt", "cls_score", "cls_pass")


def _q_pii_scrub(spark, sf_dir):
    # t13: PII scrubbing — the synthetic corpus carries no PII, so
    # each doc gets a deterministic contact line appended (same
    # expression in the oracle) and the operator must count & mask it
    # along with anything already present
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org from "),
            (F.col("doc_id") % 223 + 1).cast("string"),
            F.lit(".0.0."), (F.col("doc_id") % 251 + 1).cast("string"),
            F.lit(" tel +1 (555) 010-"),
            F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
        ),
    )
    return textops.pii_scrub(docs).select(
        "doc_id", "email_cnt", "ipv4_cnt", "phone_cnt", "masked_text"
    )


def _q_dedup_lines(spark, sf_dir):
    # t14: within-doc repetition removal — the corpus is single-line,
    # so tokens become lines (one deterministic translate, mirrored
    # in the oracle): first occurrence of each token-line survives
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.translate(F.col("text"), " ", "\n")
    )
    return textops.dedup_lines(docs).select(
        "doc_id", "line_cnt", "removed_cnt", "cleaned_text"
    )


def _q_opic(spark, sf_dir):
    # f35: OPIC over the same host graph f09 PageRanks — the Nutch
    # default crawl scoring: damping-free cash/history accounting
    # whose importance estimate refines WHILE the crawl runs, vs
    # PageRank's fixed-point-after-the-fact view of the same edges
    from hepcrawl_spark.frontier import linkgraph

    edges = linkgraph.host_graph(linkgraph.extract_outlinks(
        _link_pages(_t(spark, sf_dir, "documents"))
    ))
    state = linkgraph.opic_hosts(edges, rounds=_OPIC_ROUNDS)
    return (
        state.select(
            "host",
            F.round("cash", 9).alias("cash"),
            F.round("hist", 9).alias("hist"),
            F.round("importance", 9).alias("importance"),
        )
        .orderBy("host")
    )


def _boilerplate_pages(docs):
    """f37 planted site-chrome layout: hosts mod 10; every page gets a
    per-host nav header line, even slots also get a per-host footer
    (50% of pages — above the 40% bar with the ≥3-page floor), body =
    the d10 4-token line re-chunk of the real text.  Mirrored
    closed-form in the oracle."""
    h = (F.col("doc_id") % 10).cast("long")
    slot = F.floor(F.col("doc_id") / 10).cast("long")
    host = F.concat(F.lit("h"), h.cast("string"), F.lit(".example.com"))
    hdr = F.concat(F.lit("nav "), host, F.lit(" home login subscribe"))
    ftr = F.when(slot % 2 == 0,
                 F.concat(F.lit("footer "), host, F.lit(" contact terms")))
    body = textops.bind_once(
        textops.tokens_col(F.col("text")),
        lambda t: F.array_join(
            F.transform(
                F.sequence(F.lit(0),
                           F.floor((F.size(t) + 3) / 4).cast("int") - 1),
                lambda i: F.array_join(F.slice(t, i * 4 + 1, 4), " "),
            ),
            "\n",
        ),
    )
    return docs.select(
        "doc_id", host.alias("host"),
        F.concat_ws("\n", hdr, ftr, body).alias("text"),
    )


def _q_host_boilerplate(spark, sf_dir):
    # f37: per-host frequent-line template stripping (the RefinedWeb
    # line-wise correction) — site chrome recurring on ≥3 pages and
    # ≥40% of a host's pages dies everywhere; C4's global rule (d10)
    # keeps first occurrences, this keeps none
    pages = _boilerplate_pages(_t(spark, sf_dir, "documents"))
    return textops.strip_host_boilerplate(
        pages, min_pages=3, min_frac=0.4
    ).select("doc_id", "host", "line_cnt", "removed_cnt", "cleaned_text")


def _q_balanced_pack(spark, sf_dir):
    # p21: topic rebalance → pack — t38's cluster cap (quota 8,
    # seed_mod 61, the D4 volume-rebalance step) picks the survivors,
    # then p02's two-phase-cumsum packed layout lays them out; the
    # kept-id side is cluster-bounded (≤ 8 per cluster) so the doc
    # join broadcasts
    from hepcrawl_spark.operators.corpus import pack_sequences

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cap = similarity.cluster_cap_sample(emb, quota=8, seed_mod=61)
    keep = cap.filter(F.col("kept") == 1).select(
        F.col("id").alias("doc_id"))
    docs = _t(spark, sf_dir, "documents").join(
        F.broadcast(keep), on="doc_id", how="inner")
    inner = pack_sequences(docs, capacity=512)
    return inner.select("doc_id", "token_cnt", "seq_id", "seq_offset")


def _q_contamination_bloom(spark, sf_dir):
    # t39: Bloom-compressed decontamination — t11's verdict with the
    # benchmark broadcast shrunk to set bit positions (m=2^20, k=3);
    # bloom hits are a SUPERSET of exact hits (no false negatives —
    # pinned in tests), and the bloom itself is deterministic md5
    # arithmetic, so the oracle recomputes it exactly
    from hepcrawl_spark.operators.dedup import bloom_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 2)
    return bloom_contamination(
        docs, bench, n=13, m_bits=1 << 20, k=3
    ).select("doc_id", "gram_cnt", "hit_cnt", "contaminated")


def _q_cluster_cap(spark, sf_dir):
    # t38: cluster-capped sampling (the D4/DoReMi volume-rebalance
    # step) — d15's seed-cluster assignment, then at most 8 survivors
    # per cluster in RNG-free md5(id) order; SemDeDup drops duplicate
    # MEANINGS, this caps sheer volume per meaning
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = similarity.cluster_cap_sample(emb, quota=8, seed_mod=61)
    return out.select(
        F.col("id").alias("vec_id"), "cluster", "pick_rank", "kept"
    ).orderBy("vec_id")


def _q_canonical_collapse(spark, sf_dir):
    # f38: rel=canonical alias collapse — per k=event_id%300 a chain
    # u(k,s) declares u(k,s-1) canonical (s = 1..k%4; BOTH attribute
    # orders and quote styles by parity, so both parse regexes bite);
    # k%50==0 with a 2+-chain rewires s=1 → u(k,2), a genuine A⇄B
    # cycle whose members must fall back to SELF.  The oracle states
    # the closed form; the Spark side must PARSE the tags out of the
    # synthesized html and pointer-double to the same answer
    from hepcrawl_spark.frontier.canonical import collapse_canonicals

    ks = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 300).alias("k")).distinct()
    )
    sx = ks.select(
        "k", F.explode(F.sequence(F.lit(0), (F.col("k") % 4).cast("int")))
        .alias("s"),
    )

    def _u(step):
        return F.concat(
            F.lit("http://c"), (F.col("k") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("k").cast("string"),
            F.lit("/"), step.cast("string"),
        )

    cyc = (F.col("k") % 50 == 0) & (F.col("k") % 4 >= 2)
    tgt = _u(F.when(cyc & (F.col("s") == 1), F.lit(2))
             .otherwise(F.col("s") - 1))
    html = (
        F.when(F.col("s") == 0, F.lit("<p>page</p>"))
        .when(F.col("s") % 2 == 1,
              F.concat(F.lit('<link rel="canonical" href="'), tgt,
                       F.lit('">')))
        .otherwise(
            F.concat(F.lit("<link href='"), tgt,
                     F.lit("' rel='canonical'>")))
    )
    pages = sx.select(_u(F.col("s")).alias("url"),
                      F.encode(html, "UTF-8").alias("html"))
    return collapse_canonicals(pages).orderBy("url")


def _q_cdc_chunks(spark, sf_dir):
    # d16: LBFS content-defined chunking over the corpus — the ledger
    # of chunk contents seen 2+ times (the shareable storage a web
    # archive dedups on); window 16 / divisor 64 / max-cap 256
    tab = dedup.cdc_chunk_table(
        _t(spark, sf_dir, "documents"),
        window=16, divisor=64, max_chunk=256,
    )
    return tab.select(
        "chunk_hash",
        F.col("freq").cast("long").alias("freq"),
        F.col("chunk_len").cast("long").alias("chunk_len"),
    ).orderBy("chunk_hash")


def _q_reshard(spark, sf_dir):
    # f36: rendezvous host→worker sharding and the fleet-resize view —
    # per event host, the HRW shard at 8 and at 9 workers plus the
    # moved flag; the invariant the operator exists for (only
    # new-winner moves, ~1/(N+1) of hosts) is pinned over a wide
    # synthetic host set in tests/test_sharding.py
    from hepcrawl_spark.frontier.sharding import reshard_report

    hosts = (
        _event_candidates(spark, sf_dir)
        .select(F.col("url_host").alias("host")).distinct()
    )
    return reshard_report(hosts, n_from=8, n_to=9).orderBy("host")


def _chunk4(t):
    # the deterministic 4-token re-chunk shared by d10/t19/p22 —
    # turns the single-line synthetic corpus into multi-"line" docs
    # so cross-document line repetition is meaningful
    n_chunks = F.floor((F.size(t) + 3) / 4).cast("int")
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(t, i * 4 + 1, 4), " "),
        ),
        "\n",
    )


def _chunked_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "text", textops.bind_once(textops.tokens_col(F.col("text")),
                                  _chunk4)
    )


def _q_dedup_lines_global(spark, sf_dir):
    # d10: CROSS-document line dedup (C4 global rule) — lines are
    # 4-token chunks (one deterministic re-chunk, mirrored in the
    # oracle) so cross-doc repetition is meaningful; the corpus-wide
    # first occurrence of each line survives, blank lines exempt
    return textops.dedup_lines_global(
        _chunked_docs(spark, sf_dir), min_line_len=1
    ).select("doc_id", "line_cnt", "removed_cnt", "cleaned_text")


def _q_sketch_stats(spark, sf_dir):
    # t41: HLL + quantile-sketch corpus audit — deterministic
    # fixed-seed sketches, not bit-mirrorable cross-engine →
    # rows-only; accuracy vs exact pinned in pytest
    return textops.sketch_stats(
        _t(spark, sf_dir, "documents")
    ).orderBy("source")


def _q_clean_dupline(spark, sf_dir):
    # p22: the d10 global-duplicated-line signal composed into the
    # cleaning pipeline as a DOC-DROP rule (the RefinedWeb/Dolma
    # consumption of the C4 global rule: instead of rewriting, drop
    # any document whose corpus-duplicated line fraction exceeds the
    # threshold — 20% here, integer-exact comparison), then p01's
    # gate→dedup over the survivors' ORIGINAL text.  The oracle
    # shares d10's CTEs and p01's body verbatim.
    from hepcrawl_spark.operators import corpus

    stats = textops.dedup_lines_global(
        _chunked_docs(spark, sf_dir), min_line_len=1
    )
    keep_ids = stats.filter(
        F.col("removed_cnt") * 100 <= F.col("line_cnt") * 20
    ).select("doc_id")
    survivors = _t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).join(keep_ids, on="doc_id", how="leftsemi")
    return corpus.clean_corpus(survivors).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_repetition(spark, sf_dir):
    # t19: Gopher repetition battery — same deterministic 4-token
    # re-chunk as d10 (mirrored in the oracle) so duplicate-line
    # signals are meaningful on the single-line synthetic corpus;
    # bigram/5-gram coverage runs over the unchanged token stream
    return textops.repetition_quality(_chunked_docs(spark, sf_dir)).select(
        "doc_id", "line_cnt", "dup_line_frac", "dup_line_char_frac",
        "top_2gram_char_frac", "dup_5gram_char_frac", "passes"
    )


def _c4_input_docs(docs):
    # shared t20/p11 input construction: the d10 re-chunk gives the
    # single-line corpus line structure, with a terminal '.' on
    # chunks whose 0-based index isn't divisible by 3 (so the
    # punctuation rule has real selectivity) and a
    # "javascript { var }" line injected into every 7th document (so
    # the substring and page rules fire); mirrored verbatim in the
    # oracle CTEs (_C4_CTES)
    def _mk(t):
        n_chunks = F.floor((F.size(t) + 3) / 4).cast("int")
        lines = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat(
                F.array_join(F.slice(t, i * 4 + 1, 4), " "),
                F.when(i % 3 != 0, F.lit(".")).otherwise(F.lit("")),
            ),
        )
        return F.array_join(lines, "\n")

    return docs.withColumn(
        "text", textops.bind_once(textops.tokens_col(F.col("text")),
                                  _mk)
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"),
                     F.lit("\ninsert javascript { var }.")),
        ).otherwise(F.col("text")),
    )


def _q_c4_filter(spark, sf_dir):
    # t20: C4 line filter over the shared constructed input
    return textops.c4_line_filter(
        _c4_input_docs(_t(spark, sf_dir, "documents")), min_words=4
    ).select(
        "doc_id", "line_cnt", "kept_cnt", "page_ok", "cleaned_text"
    )


def _lines_input_docs(docs):
    # shared p23 input construction: the d10 4-token re-chunk gives
    # line structure; every doc_id % 5 == 0 page becomes a bullet
    # list ('•' prefixed to each line — chosen so the GOPHER token
    # rules still pass and only the line rule fires) and every
    # doc_id % 5 == 1 page an ellipsis-teaser list ('…' appended —
    # deliberately NOT '...', which t09's symbol-ratio rule would
    # already kill); mirrored verbatim in the oracle CTEs
    def _mk(t):
        n_chunks = F.floor((F.size(t) + 3) / 4).cast("int")
        bullet = F.col("doc_id") % 5 == 0
        ell = F.col("doc_id") % 5 == 1
        lines = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat(
                F.when(bullet, F.lit("•")).otherwise(F.lit("")),
                F.array_join(F.slice(t, i * 4 + 1, 4), " "),
                F.when(ell, F.lit("…")).otherwise(F.lit("")),
            ),
        )
        return F.array_join(lines, "\n")

    return docs.withColumn(
        "text", textops.bind_once(textops.tokens_col(F.col("text")),
                                  _mk)
    )


def _q_clean_gopherlines(spark, sf_dir):
    # p23: line-format-gated clean corpus — t45's verdict ANDed into
    # the p01 gate scan (zero extra passes); bullet-list and
    # ellipsis-teaser pages die at the gate, everything else flows
    # through the standard gate → exact-dedup tail
    from hepcrawl_spark.operators.corpus import clean_corpus

    docs = _lines_input_docs(_t(spark, sf_dir, "documents"))
    return clean_corpus(docs, line_rules=True).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_clean_c4(spark, sf_dir):
    # p11: C4-filtered clean corpus — the t20 line rewrite + page
    # verdict runs FIRST (line-level boilerplate out before any
    # tokenization), then the surviving cleaned text flows through
    # the standard p01 gate+dedup pipeline; the oracle is the p01
    # SQL body verbatim over a CTE that shadows `documents` with the
    # C4-cleaned pages (same swap pattern as p10)
    from hepcrawl_spark.operators.corpus import clean_corpus

    c4 = textops.c4_line_filter(
        _c4_input_docs(_t(spark, sf_dir, "documents")), min_words=4
    )
    survivors = c4.where(F.col("page_ok") == 1).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    return clean_corpus(survivors).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_ccnet_buckets(spark, sf_dir):
    # t21: CCNet head/middle/tail by unigram-LM fluency, boundaries
    # from the deterministic 25% md5 sample, assignment by broadcast
    # comparison (defaults match the oracle literals)
    return textops.ccnet_buckets(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", "lang", "token_cnt", "mean_logprob", "bucket")


def _q_warc_scan(spark, sf_dir):
    # f17: WARC container round-trip — documents serialize into 16
    # multi-record WARC members (deterministic url/date, ordered
    # concat) and the parser must recover every record's headers and
    # payload byte-identically; the oracle mirrors both halves
    from hepcrawl_spark.sources import warc

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
    )
    date = F.concat(
        F.lit("2026-08-19T00:00:"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
        F.lit("Z"),
    )
    recs = docs.select(
        (F.col("doc_id") % 16).alias("file_id"), F.col("doc_id"),
        warc.build_warc_records(url, date, F.col("text")).alias("rec"),
    )
    members = recs.groupBy("file_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                lambda s: s["rec"],
            ), ""
        ).alias("warc")
    )
    return warc.parse_warc_records(members, keep_cols=("file_id",)) \
        .select("file_id", "warc_type", "target_uri", "warc_date",
                "content_length", "payload", "length_ok")


def _q_cross_corpus(spark, sf_dir):
    # d11: incremental-dump dedup — the odd-id half plays the NEW
    # snapshot, the even-id half the existing REFERENCE corpus;
    # every 40th even doc is additionally re-id'd (+100000) into the
    # new side so exact cross-corpus duplicates exist by
    # construction (mirrored verbatim in the oracle)
    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text"
    ).unionByName(
        docs.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    ref_docs = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text"
    )
    return dedup.cross_corpus_dedup(
        new_docs, ref_docs, n=3, threshold=0.8
    ).select("doc_id", "exact_dup", "near_cnt", "max_jaccard", "keep")


def _q_cross_corpus_lsh(spark, sf_dir):
    # d17: the banded-MinHash scale path of d11 — same new/ref split
    # and planted exact dups; candidates from the NEW x REF band
    # equi-join, exact shingle-Jaccard verify (d11 mirror shared)
    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text"
    ).unionByName(
        docs.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    ref_docs = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text"
    )
    inner = dedup.cross_corpus_lsh(
        new_docs, ref_docs, n=3, threshold=0.8
    )
    return inner.select(
        "doc_id", "exact_dup", "near_cnt", "max_jaccard", "keep"
    )


def _q_normalize_punct(spark, sf_dir):
    # t22: webtext punctuation normalization — every doc decorated
    # with curly quotes, an en dash, NBSP, an ellipsis and an
    # ideographic space (escape-explicit here, chr() in the oracle)
    # so the folding pass has every class to rewrite
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("\u201c"), F.col("text"),
            F.lit("\u201d  \u2013\u00a0done\u2026\u3000ok "),
        ),
    )
    return textops.normalize_punct(docs).select(
        "doc_id", "changed", "norm_text"
    )


def _q_chunk_documents(spark, sf_dir):
    # t23: long-document chunking — 32-token windows starting every
    # 24 tokens (overlapping stride), same integer construction in
    # the oracle
    return textops.chunk_documents(
        _t(spark, sf_dir, "documents"), max_tokens=32, stride=24
    ).select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens",
             "chunk_text")


def _q_ccnet_pack(spark, sf_dir):
    # p12: the CCNet use of t21 — drop the tail bucket, pack
    # head+middle into the context-window layout (two-phase cumsum,
    # no unpartitioned window on the Spark side)
    from hepcrawl_spark.operators.corpus import pack_sequences

    kept = textops.ccnet_buckets(
        _t(spark, sf_dir, "documents")
    ).where(F.col("bucket") <= 2).select(
        "doc_id", "lang", "token_cnt", "bucket"
    )
    inner = pack_sequences(kept, capacity=512, count_col="token_cnt")
    return inner.select("doc_id", "lang", "token_cnt", "bucket",
                        "seq_id", "seq_offset")


def _q_dsir_weights(spark, sf_dir):
    # t24: DSIR hashed-unigram importance weights — the data-selection
    # signal of Xie et al. 2023; target = the deterministic md5-bucket
    # sample standing in for the held-out quality corpus
    return textops.dsir_weights(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", "is_target", "token_cnt", "dsir_weight")


# t18 banned-word gate: blocklist rendered into BOTH the Spark plan
# and the SQL mirror so the two cannot drift ("dup"/"slow" split the
# synthetic vocabulary ~in half, giving the gate real selectivity)
_BADWORDS = ["dup", "slow"]


def _q_badwords(spark, sf_dir):
    return textops.badwords_gate(_t(spark, sf_dir, "documents"),
                                 _BADWORDS)


# f07 URL-filter tables, shared by the Spark wrapper and the oracle
_URLF_BLOCKED_DOMAINS = ["h3.example.com", "h11.example.com",
                         "example.net"]
_URLF_BLOCKED_EXTS = ["jpg"]

_BADWORDS_SQL = "['" + "','".join(_BADWORDS) + "']"
# suffix-blocklist mirror: host itself or any dot-suffix is blocked
_URLF_DOMAIN_SQL = " OR ".join(
    f"url_host = '{d}' OR ends_with(url_host, '.{d}')"
    for d in _URLF_BLOCKED_DOMAINS
)


def _q_clean_badwords(spark, sf_dir):
    # p09: p01's cleaning pipeline with the t18 banned-word verdict
    # ANDed into the gate — still ONE scan pass (the count folds in
    # the same bound token array), still gate-before-shuffle
    from hepcrawl_spark.operators.corpus import clean_corpus

    return clean_corpus(
        _t(spark, sf_dir, "documents"), badwords=_BADWORDS
    ).select("doc_id", "guessed_lang", "token_cnt", "fingerprint")


def _q_url_filter(spark, sf_dir):
    # f07: frontier blocklist gate over event-synthesized candidates
    # with deterministic scheme/extension/subdomain variety —
    # exercises all three predicates incl. the registrable-domain
    # suffix rule (example.net blocks every *.media.example.net host)
    ev = _t(spark, sf_dir, "events")
    hid = (F.col("user_id") % 20).cast("string")
    host = F.when(
        F.col("user_id") % 20 >= 15,
        F.concat(F.lit("h"), hid, F.lit(".media.example.net")),
    ).otherwise(F.concat(F.lit("h"), hid, F.lit(".example.com")))
    scheme = F.when(F.col("event_id") % 17 == 0, F.lit("ftp")) \
        .when(F.col("event_id") % 5 == 0, F.lit("https")) \
        .otherwise(F.lit("http"))
    ext = F.when(F.col("event_id") % 11 == 0, F.lit("jpg")) \
        .when(F.col("event_id") % 13 == 0, F.lit("pdf")) \
        .otherwise(F.lit("html"))
    url = F.concat(scheme, F.lit("://"), host, F.lit("/p/"),
                   (F.col("event_id") % 97).cast("string"),
                   F.lit("."), ext)
    cand = with_url_identity(
        ev.select(url.alias("url"), F.col("event_id").alias("seq"))
    )
    return urlfilter.url_filter(
        cand,
        blocked_domains=_URLF_BLOCKED_DOMAINS,
        blocked_extensions=_URLF_BLOCKED_EXTS,
    ).select("url", "url_host", "seq", "scheme_ok", "domain_blocked",
             "ext_blocked", "keep")


# f20 trap-detection synthesis constants — section words for the
# honest hosts (no ≥8-char hex run, so they survive both collapse
# rules), rendered into BOTH sides so the mirrors cannot drift
_TRAP_SECTIONS = ("news", "about", "blog", "docs", "shop", "help",
                  "team")
_TRAP_SECTIONS_SQL = "['" + "','".join(_TRAP_SECTIONS) + "']"


def _q_resolve_redirects(spark, sf_dir):
    # f21: redirect-chain resolution by pointer doubling — per
    # distinct k=event_id%500 a synthesized chain u(k,s) -> u(k,s-1)
    # of length k%5 ends at the terminal u(k,0); the oracle states
    # the closed form (final = step 0, hops = s), so the log-hop
    # join cascade must land every chain exactly
    from hepcrawl_spark.frontier.redirects import resolve_redirects

    ks = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 500).alias("k")).distinct()
        .where(F.col("k") % 5 != 0)
    )
    s = ks.select(
        "k", F.explode(F.sequence(F.lit(1), (F.col("k") % 5).cast("int")))
        .alias("s"),
    )

    def _u(step):
        return F.concat(
            F.lit("http://r"), (F.col("k") % 13).cast("string"),
            F.lit(".example.com/u/"), F.col("k").cast("string"),
            F.lit("/"), step.cast("string"),
        )

    edges = s.select(_u(F.col("s")).alias("url"),
                     _u(F.col("s") - 1).alias("redirect_to"))
    return resolve_redirects(edges, max_hops=8).orderBy("url")


def _q_trap_hosts(spark, sf_dir):
    # f20: crawl-trap detection — hid%10==0 hosts emit a calendar
    # digit trap (every URL collapses to /cal/~d/~d), hid%5==0 a
    # session-id hex trap (/s/~h), every other host spreads its URL
    # mass over seven section patterns; detect_traps must flag
    # exactly the four planted hosts at sf0.01
    from hepcrawl_spark.frontier.urlfilter import detect_traps

    ev = _t(spark, sf_dir, "events")
    hid = F.col("user_id") % 20
    host = F.concat(F.lit("h"), hid.cast("string"),
                    F.lit(".example.com"))
    sect = F.element_at(
        F.array(*[F.lit(s) for s in _TRAP_SECTIONS]),
        (F.col("event_id") % len(_TRAP_SECTIONS) + 1).cast("int"),
    )
    path = (
        F.when(hid % 10 == 0,
               F.concat(F.lit("/cal/"),
                        (F.col("event_id") % 997).cast("string"),
                        F.lit("/"),
                        (F.col("event_id") % 12).cast("string")))
        .when(hid % 5 == 0,
              F.concat(F.lit("/s/"),
                       F.format_string(
                           "%08x",
                           (F.col("event_id") % 99991).cast("int"))))
        .otherwise(F.concat(F.lit("/"), sect, F.lit("/"),
                            (F.col("event_id") % 97).cast("string")))
    )
    cand = ev.select(
        F.concat(F.lit("http://"), host, path).alias("url"),
        host.alias("url_host"),
    )
    return urlfilter.detect_traps(cand).orderBy("url_host")


# f08/f09 link-graph synthesis constants — rendered into BOTH the
# Spark page synthesis and the SQL mirror so the two cannot drift.
# Each synthesized page carries three absolute anchors to
# deterministic pseudo-random target docs plus one relative anchor
# (which extract_outlinks must drop).
_LINK_MULT = 31
_LINK_OFFSETS = (7919, 15838, 23757)
_LINK_MOD = 9973
_LINK_HOSTS = 11
_PR_DAMPING = 0.85
_PR_ITERATIONS = 5
_OPIC_ROUNDS = 5
# TrustRank seed hosts (f34) — two vetted hosts in the f09 link plant
_TR_SEEDS = ["h0.docs.example.com", "h3.docs.example.com"]
_HITS_ITERATIONS = 5

# closed-form link table: (src_host, dst_host, dst_url) per anchor —
# the oracle derives what the Spark side must PARSE out of the html
_LINK_SQL = f"""
              SELECT 'h' || (doc_id % 7) || '.docs.example.com'
                       AS src_host,
                     'h' || (dd % {_LINK_HOSTS}) || '.docs.example.com'
                       AS dst_host,
                     'http://h' || (dd % {_LINK_HOSTS})
                       || '.docs.example.com/d/' || dd AS dst_url
              FROM (SELECT doc_id,
                           (doc_id * {_LINK_MULT} + o) % {_LINK_MOD} AS dd
                    FROM documents,
                         (SELECT unnest([{', '.join(map(str, _LINK_OFFSETS))}])
                          AS o))"""


def _link_pages(docs: DataFrame) -> DataFrame:
    """Pages with embedded outlink anchors (f08/f09 input).

    Same host/url shape as ``_doc_pages`` plus three absolute anchors
    per page to ``(doc_id * MULT + offset) % MOD`` targets across
    ``_LINK_HOSTS`` hosts, one relative anchor, and one single-quoted
    anchor variant — the link extractor must parse all three quoting
    shapes and keep only the absolute http(s) targets.
    """
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".docs.example.com"),
    )
    url = F.concat(F.lit("http://"), host, F.lit("/d/"),
                   F.col("doc_id").cast("string"))

    def _anchor(offset, quote):
        dd = (F.col("doc_id") * _LINK_MULT + offset) % _LINK_MOD
        return F.concat(
            F.lit(f"<a href={quote}http://h"),
            (dd % _LINK_HOSTS).cast("string"),
            F.lit(".docs.example.com/d/"), dd.cast("string"),
            F.lit(f"{quote}>next</a>"),
        )

    html = F.encode(
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</title></head><body><p>"), F.col("text"),
            F.lit("</p>"),
            _anchor(_LINK_OFFSETS[0], '"'),
            _anchor(_LINK_OFFSETS[1], "'"),
            _anchor(_LINK_OFFSETS[2], '"'),
            F.lit('<a href="/rel/'), F.col("doc_id").cast("string"),
            F.lit('">rel</a></body></html>'),
        ),
        "UTF-8",
    )
    return docs.select(url.alias("url"), html.alias("html"))


# t25 boilerplate page template — nav (pure links), body-embedded
# script (with a decoy <p> inside a JS string), tag-cloud list and a
# linky footer wrap the document text; html = SEG0 + doc_id + SEG1 +
# doc_id + SEG2 + text + POST, rendered into BOTH engines
_BP_SEG0 = "<html><head><title>Doc "
_BP_SEG1 = (
    "</title><style>p{c:red}</style></head><body>"
    '<div><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></div><script>var p = "<p>'
    'sneak</p>"; var id = '
)
_BP_SEG2 = ";</script><p>"
_BP_POST = (
    '</p><ul><li><a href="/t/1">Tag one</a></li><li><a href="/t/2">'
    'Tag two</a></li></ul><div>(c) 2026 <a href="/tos">Terms</a> '
    '<a href="/priv">Privacy</a></div></body></html>'
)


def _q_boilerplate(spark, sf_dir):
    # t25: main-content extraction — the nav/tag/footer blocks must
    # fall to the link-density and min-length rules, head/script
    # (including the decoy <p> inside a JS string) to the element
    # drop, leaving exactly the article text
    from hepcrawl_spark.operators.boilerplate import main_text

    docs = _t(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_BP_SEG0), ids, F.lit(_BP_SEG1), ids, F.lit(_BP_SEG2),
        F.col("text"), F.lit(_BP_POST),
    )
    pages = docs.select("doc_id", html.alias("html_str"))
    return main_text(pages).select(
        "doc_id", "main_text", "cand_blocks", "kept_blocks"
    ).orderBy("doc_id")


def _q_page_metadata(spark, sf_dir):
    # t26: head-metadata extraction — title carries planted
    # whitespace damage (double space + trailing space) the collapse
    # must repair; description/canonical are OMITTED on doc_id%4==0 /
    # %3==0 rows so the no-match '' path is exercised in both engines
    from hepcrawl_spark.operators.boilerplate import page_metadata

    docs = _t(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    desc = F.when(
        F.col("doc_id") % 4 != 0,
        F.concat(F.lit('<meta name="description" content="'),
                 F.col("lang"), F.lit(" doc "), ids, F.lit('">')),
    ).otherwise(F.lit(""))
    canon = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(F.lit('<link rel="canonical" href="http://h'),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit(".docs.example.com/d/"), ids, F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"),
        F.lit('"><head><title>Doc  '), ids, F.lit(" </title>"),
        desc, canon,
        F.lit('<meta property="og:title" content="OG '), ids,
        F.lit('">'),
        F.lit("</head><body><p>"), F.col("text"),
        F.lit("</p></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html_str"))
    return page_metadata(pages).select(
        "doc_id", "title", "meta_description", "canonical_url",
        "og_title", "html_lang",
    ).orderBy("doc_id")


# t27 planted artifacts: prefix repeated 1-3x + one suffix, both
# picked from the pair table by doc_id arithmetic — rendered into
# BOTH engines from the same constant
_MOJI_BADS = [p[0] for p in textops.MOJIBAKE_PAIRS]

# t27 mirror pieces, generated from the SAME pair table the operator
# folds (no quote chars in any artifact/replacement — SQL-literal
# safe); the nested-replace chain preserves the operator's order
_MOJI_LIST_SQL = "['" + "','".join(_MOJI_BADS) + "']"
_MOJI_FIXED_SQL = "text"
for _bad, _good in textops.MOJIBAKE_PAIRS:
    _MOJI_FIXED_SQL = f"replace({_MOJI_FIXED_SQL}, '{_bad}', '{_good}')"
_MOJI_HITS_SQL = " + ".join(
    f"(length(text) - length(replace(text, '{_bad}', '')))"
    f" // {len(_bad)}"
    for _bad, _g in textops.MOJIBAKE_PAIRS
)

# f23/p13 shared host-curation mirror: gopher bad flag per doc (the
# shared CTE constants), n_chars-bucket host key, host aggregate and
# the integer cross-multiplied block verdict — defined ONCE so the
# standalone f23 mirror and the p13 pipeline mirror cannot drift
_HOSTCUR_CTES = f"""cs AS (
      SELECT doc_id, n_chars, {_TOKS} AS toks FROM documents
    ), cm AS (
      SELECT doc_id, n_chars,{_GOPHER_M_COLS}
      FROM cs
    ), cg AS (
      SELECT *, {_GOPHER_DUP_SQL} AS dup_frac FROM cm
    ), cb AS (
      SELECT doc_id, 'h' || least(n_chars // 80, 12)
               || '.example.com' AS host,
             CASE WHEN {_GOPHER_PASS_SQL} THEN 0 ELSE 1 END AS bad
      FROM cg
    ), ch AS (
      SELECT host, count(*)::BIGINT AS docs,
             sum(bad)::BIGINT AS bad_docs
      FROM cb GROUP BY host
    ), cv AS (
      SELECT host, docs, bad_docs,
             CASE WHEN docs >= 5 AND bad_docs * 100 > 50 * docs
                  THEN 1 ELSE 0 END AS blocked
      FROM ch
    )"""


def _q_fix_mojibake(spark, sf_dir):
    # t27: cp1252 mojibake repair — every doc damaged with
    # deterministic artifacts; the operator must fold them back and
    # count the hits exactly
    docs = _t(spark, sf_dir, "documents")
    k = len(_MOJI_BADS)
    bads = F.array(*[F.lit(b) for b in _MOJI_BADS])
    a = F.element_at(bads, (F.col("doc_id") % k + 1).cast("int"))
    b = F.element_at(
        bads, ((F.col("doc_id") * 3 + 1) % k + 1).cast("int")
    )
    reps = (F.col("doc_id") % 3 + 1).cast("int")
    damaged = F.concat(
        F.repeat(a, reps), F.lit(" "), F.col("text"), F.lit(" "), b
    )
    return textops.fix_mojibake(
        docs.select("doc_id", damaged.alias("text"))
    ).select("doc_id", "text_fixed", "mojibake_hits").orderBy("doc_id")


def _q_curate_hosts(spark, sf_dir):
    # f23: RefinedWeb-style host curation — host keyed by n_chars
    # bucket (so short-junk hosts really do concentrate Gopher
    # failures), per-doc bad flag = NOT gopher-pass, then the host
    # verdict aggregate; kept_docs re-derives through the REAL
    # broadcast anti-join (the oracle states its closed form)
    from hepcrawl_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"),
        F.least(F.floor(F.col("n_chars") / 80), F.lit(12))
        .cast("long").cast("string"),
        F.lit(".example.com"),
    )
    s = textops.bind_once(
        textops.tokens_col(F.col("text")),
        lambda t: textops.gopher_signals(t),
    )
    base = docs.select(
        "doc_id", host.alias("host"),
        (F.lit(1) - s.getField("passes")).alias("bad"),
    )
    verdicts = corpus.curate_hosts(base)
    kept = corpus.host_filter(base, verdicts).groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs")
    )
    return (
        verdicts.join(kept, "host", "left")
        .select(
            "host", "docs", "bad_docs", "blocked",
            F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long")
            .alias("kept_docs"),
        )
        .orderBy("host")
    )


def _q_host_curated_clean(spark, sf_dir):
    # p13: RefinedWeb order — drop blocked hosts FIRST (f23's verdict
    # + the real broadcast anti-join), then run the per-doc
    # clean-corpus pipeline on the survivors; the oracle shares f23's
    # CTEs and p01's body verbatim
    from hepcrawl_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"),
        F.least(F.floor(F.col("n_chars") / 80), F.lit(12))
        .cast("long").cast("string"),
        F.lit(".example.com"),
    )
    s = textops.bind_once(
        textops.tokens_col(F.col("text")),
        lambda t: textops.gopher_signals(t),
    )
    base = docs.select(
        "doc_id", "text", host.alias("host"),
        (F.lit(1) - s.getField("passes")).alias("bad"),
    )
    verdicts = corpus.curate_hosts(base)
    survivors = corpus.host_filter(base, verdicts).select(
        "doc_id", "text"
    )
    return corpus.clean_corpus(survivors).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_linkfarm_hosts(spark, sf_dir):
    # f24: link-farm detection over a planted host graph mod 12 —
    # hosts 0-3 form reciprocal exchange pairs (0<->1, 2<->3: the
    # farm), hosts 4-11 a one-way chain; every host also carries a
    # one-way long-range edge (+5), so farms sit at 50% reciprocity
    # and organics at 0% — the 40% threshold separates them
    from hepcrawl_spark.frontier import linkgraph

    docs = _t(spark, sf_dir, "documents")

    def _h(c):
        return F.concat(F.lit("h"), c.cast("string"),
                        F.lit(".example.com"))

    r = F.col("doc_id") % 12
    partner = r + 1 - 2 * (r % 2)
    d1 = F.when(r < 4, partner).otherwise((r + 1) % 12)
    e1 = docs.select(_h(r).alias("src_host"), _h(d1).alias("dst_host"))
    e2 = docs.select(_h(r).alias("src_host"),
                     _h((r + 5) % 12).alias("dst_host"))
    edges = linkgraph.host_graph(e1.unionAll(e2))
    return linkgraph.linkfarm_hosts(
        edges, min_out=2, min_recip_pct=40
    ).orderBy("host")


def _mirror_pages(docs):
    """f28/p17 shared planted mirror layout mod 10: host 1 serves host
    0's content verbatim (full mirror, 100% overlap), host 3 mirrors
    host 2 on even slots only (50% — below the 80% bar → reported,
    not flagged), hosts 4-9 unique.  `content` is the page-content
    identity the detector hashes; `text` stays the real document text
    for the downstream cleaning composition."""
    slot = F.floor(F.col("doc_id") / 10).cast("long")
    h = (F.col("doc_id") % 10).cast("long")
    eff = (
        F.when(h == 1, F.lit(0))
        .when((h == 3) & (slot % 2 == 0), F.lit(2))
        .otherwise(h)
    ).cast("long")
    return docs.select(
        "doc_id", "text",
        F.concat(F.lit("h"), h.cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.concat(F.lit("c-"), slot.cast("string"), F.lit("-"),
                 eff.cast("string")).alias("content"),
    )


def _q_mirror_hosts(spark, sf_dir):
    # f28: mirror-host detection over the planted layout (see
    # _mirror_pages); oracle shares its CTEs with p17
    from hepcrawl_spark.frontier import mirrors

    pages = _mirror_pages(_t(spark, sf_dir, "documents"))
    res = mirrors.mirror_host_pairs(
        pages, min_shared=3, min_overlap_pct=80, text_col="content")
    return res.select(
        "host_a", "host_b", "shared", "n_a", "n_b",
        F.round("overlap_pct", 9).alias("overlap_pct"), "flagged",
    ).orderBy("host_a", "host_b")


def _q_clean_mirror_dedup(spark, sf_dir):
    # p17: crawl-side mirror elimination composed into the cleaning
    # pipeline — detect mirror hosts (f28), drop every page of the
    # losing member (keep-one anti-join), then run p01's gate→dedup
    # on the survivors; the oracle shares f28's CTEs and p01's body
    from hepcrawl_spark.frontier import mirrors
    from hepcrawl_spark.operators import corpus

    pages = _mirror_pages(_t(spark, sf_dir, "documents"))
    pairs = mirrors.mirror_host_pairs(
        pages, min_shared=3, min_overlap_pct=80, text_col="content")
    survivors = pages.join(
        mirrors.mirror_losers(pairs), on="host", how="left_anti"
    ).select("doc_id", "text")
    return corpus.clean_corpus(survivors).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _soft404_pages(docs):
    """f29/p18 shared planted fetch results — every 17th doc a full
    error page (title + thin not-found body → flagged), every 23rd a
    long article QUOTING "page not found" (phrase hit without the
    thin corroboration → reported, not flagged)."""
    f17 = F.col("doc_id") % 17 == 0
    q23 = (F.col("doc_id") % 23 == 0) & ~f17
    title = F.when(f17, F.lit("404 Not Found")).otherwise(
        F.concat(F.lit("Doc "), F.col("doc_id").cast("string")))
    text = (
        F.when(f17, F.lit(
            "The page you requested was not found on this server."))
        .when(q23, F.concat(
            F.lit("Review: the phrase page not found appears in this "
                  "long discussion. "), F.col("text")))
        .otherwise(F.col("text"))
    )
    return docs.select(
        F.col("doc_id"), title.alias("title"), text.alias("text"))


def _q_soft404(spark, sf_dir):
    # f29: soft-404 gate over the planted layout (see _soft404_pages)
    pages = _soft404_pages(_t(spark, sf_dir, "documents"))
    res = boilerplate.soft404_flag(pages, min_chars=200)
    return res.select(
        "doc_id", "nf_title", "nf_phrase", "thin", "soft404"
    ).orderBy("doc_id")


def _q_clean_soft404(spark, sf_dir):
    # p18: fetch-health order — drop soft-404 bodies FIRST, then run
    # the p01 gate→dedup pipeline on the surviving (synthesized)
    # bodies; the oracle shares f29's CTEs and p01's body verbatim
    from hepcrawl_spark.operators import corpus

    pages = _soft404_pages(_t(spark, sf_dir, "documents"))
    survivors = (
        boilerplate.soft404_flag(pages, min_chars=200)
        .filter(F.col("soft404") == 0)
        .select("doc_id", "text")
    )
    return corpus.clean_corpus(survivors).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_readability(spark, sf_dir):
    # t36: Flesch reading-ease + FK grade (vowel-group syllable
    # surrogate; all-integral counts so the double arithmetic is the
    # identical IEEE expression cross-engine)
    res = textops.readability(_t(spark, sf_dir, "documents"))
    return res.select(
        "doc_id", "token_cnt", "sentence_cnt", "syllable_cnt",
        F.round("fre", 9).alias("fre"),
        F.round("fk_grade", 9).alias("fk_grade"),
    ).orderBy("doc_id")


def _q_clean_readable(spark, sf_dir):
    # p19: the t36 Flesch band composed into the cleaning gate —
    # syllable fold rides the already-bound token array, so the
    # screen costs zero extra scans (plan-pinned)
    from hepcrawl_spark.operators import corpus

    return corpus.clean_corpus(
        _t(spark, sf_dir, "documents"), fre_min=_P19_FRE_MIN
    ).select("doc_id", "guessed_lang", "token_cnt", "fingerprint")


def _q_clean_semdedup(spark, sf_dir):
    # p20: SemDeDup composed into the cleaning pipeline — d15's
    # embedding-level semantic verdict (same tau=0.45 / seed_mod=61
    # contract, run on the RAW corpus, no planted twins) picks the
    # document survivors (doc_id keys the embedding row 1:1), then
    # p01's gate→exact-dedup runs on them.  Drop-side anti-join, not
    # keep-side semi: documents without an embedding row pass
    # untouched, matching the oracle's NOT IN drp.  The dropped set is
    # a tiny id list → broadcast anti-join, no extra shuffle on the
    # document stream.
    from hepcrawl_spark.operators import corpus

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    verdict = similarity.semantic_dedup(emb, threshold=0.45, seed_mod=61)
    dropped = verdict.filter(F.col("kept") == 0).select(
        F.col("id").alias("doc_id"))
    docs = _t(spark, sf_dir, "documents").join(
        F.broadcast(dropped), on="doc_id", how="left_anti")
    return corpus.clean_corpus(docs.select("doc_id", "text")).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint")


def _q_lexical_stats(spark, sf_dir):
    # t37: corpus lexical diagnostics — TTR, hapax share, Zipf slope
    # over the top-100 unigrams (rank-ordered in-row folds, the t34
    # ln() precedent)
    res = textops.lexical_stats(_t(spark, sf_dir, "documents"))
    return res.select(
        "token_cnt", "type_cnt", F.round("ttr", 9).alias("ttr"),
        "hapax_cnt", F.round("hapax_frac", 9).alias("hapax_frac"),
        F.round("zipf_slope", 9).alias("zipf_slope"),
    )


# DuckDB mirror of _dust_pages — the SAME plant, shared by the f32
# (mining) and f33 (rewrite) oracles so the mirrors can't drift
_DUST_PAGES_SQL = """d AS (
              SELECT doc_id,
                     'h' || (doc_id % 5) || '.example.com' AS host,
                     'http://h' || (doc_id % 5) || '.example.com/p/'
                       || doc_id AS base,
                     'c-' || doc_id AS c
              FROM documents
            ), pages AS (
              SELECT base AS url, host, c AS text FROM d
              UNION ALL
              SELECT base || '?utm=1', host, c FROM d
              WHERE doc_id % 2 = 0
              UNION ALL
              SELECT base || '?page=2', host, c || '-p2' FROM d
              WHERE doc_id % 3 = 0
              UNION ALL
              SELECT base || '?sess=' || doc_id, host, c FROM d
              WHERE doc_id % 4 = 0
              UNION ALL
              SELECT base || '?page=2&utm=1', host, c || '-p2' FROM d
              WHERE doc_id % 6 = 0
            )"""

# DuckDB mirror of urlfilter.dust_params over that plant: query
# string re-derived by regex (DuckDB has no parse_url), md5 content
# identity, strict no-counterexample rule at support >= 3
_DUST_MINE_SQL = """wq AS (
              SELECT host,
                     regexp_extract(
                       regexp_extract(url, '\\?([^#]*)', 1),
                       '^([^=&]+)', 1) AS param,
                     regexp_extract(url, '^([^?#]*)', 1) AS base_url,
                     md5(text) AS qc
              FROM pages
              WHERE regexp_extract(url, '\\?([^#]*)', 1) != ''
                AND NOT contains(
                      regexp_extract(url, '\\?([^#]*)', 1), '&')
            ), br AS (
              SELECT DISTINCT url AS base_url, md5(text) AS bc
              FROM pages
              WHERE regexp_extract(url, '\\?([^#]*)', 1) = ''
            ), g AS (
              SELECT host, param,
                     count(*)::BIGINT AS n_urls,
                     count(bc)::BIGINT AS n_alias,
                     sum(CASE WHEN qc = bc THEN 1 ELSE 0 END)::BIGINT
                       AS n_same
              FROM wq LEFT JOIN br USING (base_url)
              GROUP BY host, param
            )"""


def _dust_pages(docs):
    # shared f32/f33 plant: ?utm=1 and ?sess=N always serve the bare
    # URL's content (irrelevant), ?page=2 always differs (relevant),
    # hosts mod 5; the multi-param ?page=2&utm=1 rows are SKIPPED by
    # the single-param miner but exercised by the f33 rewriter (the
    # relevant page param must survive the strip)
    host = F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"),
                    F.lit(".example.com"))
    base = F.concat(F.lit("http://"), host, F.lit("/p/"),
                    F.col("doc_id").cast("string"))
    c = F.concat(F.lit("c-"), F.col("doc_id").cast("string"))

    def _rows(cond, url, text):
        return docs.filter(cond).select(
            url.alias("url"), host.alias("host"), text.alias("text"))

    return (
        _rows(F.lit(True), base, c)
        .unionAll(_rows(F.col("doc_id") % 2 == 0,
                        F.concat(base, F.lit("?utm=1")), c))
        .unionAll(_rows(F.col("doc_id") % 3 == 0,
                        F.concat(base, F.lit("?page=2")),
                        F.concat(c, F.lit("-p2"))))
        .unionAll(_rows(F.col("doc_id") % 4 == 0,
                        F.concat(base, F.lit("?sess="),
                                 F.col("doc_id").cast("string")), c))
        .unionAll(_rows(F.col("doc_id") % 6 == 0,
                        F.concat(base, F.lit("?page=2&utm=1")),
                        F.concat(c, F.lit("-p2"))))
    )


def _q_dust_params(spark, sf_dir):
    # f32: DUST param mining over the shared planted alias layout
    docs = _t(spark, sf_dir, "documents")
    return urlfilter.dust_params(
        _dust_pages(docs), min_support=3).orderBy("host", "param")


def _q_dust_apply(spark, sf_dir):
    # f33: the apply half of the DUST loop — mine the rules from the
    # same plant, then rewrite the URL stream: utm/sess stripped
    # (incl. from the multi-param rows, where page must survive),
    # page kept, '?' dropped when nothing survives
    docs = _t(spark, sf_dir, "documents")
    pages = _dust_pages(docs)
    rules = urlfilter.dust_params(pages, min_support=3)
    return (
        urlfilter.apply_dust_rules(pages, rules)
        .select("url", "host", "dust_url", "n_stripped")
        .orderBy("url")
    )


def _q_sitemap_gap(spark, sf_dir):
    # f30: sitemap-vs-crawl coverage — the sitemap publishes every
    # /d/ page; the crawl has fetched 3/4 of them (doc_id%4!=0) plus
    # orphan /x/ pages the sitemap never listed (doc_id%6==0), so
    # every host shows both a discovery backlog and orphans
    from hepcrawl_spark.sources import sitemap

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".docs.example.com"))
    d_url = F.concat(F.lit("http://"), host, F.lit("/d/"),
                     F.col("doc_id").cast("string"))
    x_url = F.concat(F.lit("http://"), host, F.lit("/x/"),
                     F.col("doc_id").cast("string"))
    smap = docs.select(d_url.alias("url"), host.alias("url_host"))
    crawled = (
        docs.filter(F.col("doc_id") % 4 != 0)
        .select(d_url.alias("url"), host.alias("url_host"))
        .unionAll(
            docs.filter(F.col("doc_id") % 6 == 0)
            .select(x_url.alias("url"), host.alias("url_host")))
    )
    return sitemap.sitemap_coverage(smap, crawled).orderBy("host")


# m04 planted magic table: the 8 real prefixes + one junk entry that
# must fall through to octet-stream
_MAGIC_HEXES = [h for h, _ in multimodal.MAGIC_PREFIXES] + ["00FF00FF"]


def _q_sniff_mime(spark, sf_dir):
    # m04: magic-byte MIME sniffing — payload = planted magic prefix
    # (by doc_id % 9) + the first 8 text chars as UTF-8 bytes; the
    # oracle states the expected verdict closed-form from the same
    # table, so a wrong CASE arm or hex slice fails the match
    docs = _t(spark, sf_dir, "documents")
    magics = F.array(*[F.lit(h) for h in _MAGIC_HEXES])
    magic = F.element_at(
        magics, (F.col("doc_id") % len(_MAGIC_HEXES) + 1).cast("int")
    )
    payload = F.unhex(F.concat(
        magic,
        F.hex(F.encode(F.substring(F.col("text"), 1, 8), "UTF-8")),
    ))
    media = docs.select("doc_id", payload.alias("media"))
    return multimodal.sniff_mime(media).select(
        "doc_id", "sniffed_type"
    ).orderBy("doc_id")


def _q_url_spam(spark, sf_dir):
    # f25: lexical URL-spam gate — four path families (hyphen-stuffed
    # tags, session-id digit runs, deep trees, parameter farms) plus
    # a pad segment on doc_id%5==0 rows that trips the length + depth
    # features, so scores span 0..6 and the flag fires on real
    # combinations only
    from hepcrawl_spark.frontier import urlfilter

    docs = _t(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    path = (
        F.when(m == 0, F.concat(F.lit("/tag-x-x-x-x-"), ids))
        .when(m == 1, F.concat(
            F.lit("/session/"),
            (F.col("doc_id") + 1000000).cast("string")))
        .when(m == 2, F.concat(F.lit("/a/b/c/d/e/f/"), ids))
        .otherwise(F.concat(F.lit("/q?a=1&b=2&c="), ids))
    )
    pad = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit("/pad/pad/pad/pad/pad/pad/pad/pad/pad/pad"),
    ).otherwise(F.lit(""))
    url = F.concat(
        F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".docs.example.com"), pad, path,
    )
    cand = docs.select("doc_id", url.alias("canon_url"))
    return urlfilter.url_spam_score(cand).select(
        "doc_id", "spam_score", "spam_flag"
    ).orderBy("doc_id")


# f22 anchor-text words — raw forms carry planted whitespace damage
# (double space, leading space) that the extractor's collapse/trim
# must repair; the oracle consumes the cleaned forms
_ANCHOR_WORDS = ("details", "read  more", " home", "source")
_ANCHOR_WORDS_CLEAN_SQL = "['" + "','".join(
    " ".join(w.split()) for w in _ANCHOR_WORDS
) + "']"


def _anchor_pages(docs: DataFrame) -> DataFrame:
    """Pages whose anchors carry closed-form text (f22 input): same
    target scheme as ``_link_pages``, anchor text =
    ``_ANCHOR_WORDS[(dd + doc_id) % 4]`` raw (whitespace-damaged),
    both quote styles, plus one relative anchor the extractor must
    drop."""
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".docs.example.com"),
    )
    url = F.concat(F.lit("http://"), host, F.lit("/d/"),
                   F.col("doc_id").cast("string"))

    def _anchor(offset, quote):
        dd = (F.col("doc_id") * _LINK_MULT + offset) % _LINK_MOD
        word = F.element_at(
            F.array(*[F.lit(w) for w in _ANCHOR_WORDS]),
            ((dd + F.col("doc_id")) % len(_ANCHOR_WORDS) + 1)
            .cast("int"),
        )
        return F.concat(
            F.lit(f"<a href={quote}http://h"),
            (dd % _LINK_HOSTS).cast("string"),
            F.lit(".docs.example.com/d/"), dd.cast("string"),
            F.lit(f"{quote}>"), word, F.lit("</a>"),
        )

    html = F.encode(
        F.concat(
            F.lit("<html><body>"),
            _anchor(_LINK_OFFSETS[0], '"'),
            _anchor(_LINK_OFFSETS[1], "'"),
            _anchor(_LINK_OFFSETS[2], '"'),
            F.lit('<a href="/rel/'), F.col("doc_id").cast("string"),
            F.lit('">rel</a></body></html>'),
        ),
        "UTF-8",
    )
    return docs.select(url.alias("url"), html.alias("html"))


def _q_anchor_texts(spark, sf_dir):
    # f22: inbound anchor-text profile per target URL — parse both
    # quote shapes out of the bytes JVM-side, repair the planted
    # whitespace damage, drop the relative anchor, then the two-level
    # min_by rollup; the oracle derives the same profile closed-form
    from hepcrawl_spark.frontier import linkgraph

    anchors = linkgraph.extract_anchors(
        _anchor_pages(_t(spark, sf_dir, "documents"))
    )
    return linkgraph.anchor_text_summary(anchors).orderBy("dst_url")


def _q_link_graph(spark, sf_dir):
    # f08: outlink extraction (JVM regexp over decoded html, no
    # Python) -> per-host in-degree — the raw authority signal the
    # frontier prioritizer consumes
    from hepcrawl_spark.frontier import linkgraph

    links = linkgraph.extract_outlinks(
        _link_pages(_t(spark, sf_dir, "documents"))
    )
    return (
        links.groupBy("dst_host")
        .agg(
            F.count(F.lit(1)).alias("inlinks"),
            F.countDistinct("src_host").alias("src_host_cnt"),
            F.countDistinct("dst_url").alias("dst_url_cnt"),
        )
        .orderBy("dst_host")
    )


def _q_host_rank(spark, sf_dir):
    # f09: fixed-iteration damped PageRank over the integer-weighted
    # host graph — crawl-priority authority score per host
    from hepcrawl_spark.frontier import linkgraph

    edges = linkgraph.host_graph(linkgraph.extract_outlinks(
        _link_pages(_t(spark, sf_dir, "documents"))
    ))
    ranks = linkgraph.pagerank_hosts(
        edges, damping=_PR_DAMPING, iterations=_PR_ITERATIONS
    )
    return (
        ranks.select("host", F.round("rank", 9).alias("rank"))
        .orderBy("host")
    )


def _q_trustrank(spark, sf_dir):
    # f34: TrustRank over the same host graph as f09 — personalized
    # PageRank from two vetted seed hosts, the anti-spam half of host
    # priority (trust decays with link distance from the seeds; spam
    # farms that inflate plain PageRank among themselves get none)
    from hepcrawl_spark.frontier import linkgraph

    edges = linkgraph.host_graph(linkgraph.extract_outlinks(
        _link_pages(_t(spark, sf_dir, "documents"))
    ))
    ranks = linkgraph.trustrank_hosts(
        edges, _TR_SEEDS, damping=_PR_DAMPING, iterations=_PR_ITERATIONS
    )
    return (
        ranks.select("host", F.round("trust", 9).alias("trust"))
        .orderBy("host")
    )


def _q_hits(spark, sf_dir):
    # f27: HITS hub/authority over the same host graph as f09 —
    # authority ranks hosts worth FETCHING, hub ranks hosts worth
    # re-crawling for DISCOVERY (their outlinks surface new
    # authorities); complements PageRank's endorsement-only signal
    from hepcrawl_spark.frontier import linkgraph

    edges = linkgraph.host_graph(linkgraph.extract_outlinks(
        _link_pages(_t(spark, sf_dir, "documents"))
    ))
    return (
        linkgraph.hits_hosts(edges, iterations=_HITS_ITERATIONS)
        .select("host", F.round("hub", 9).alias("hub"),
                F.round("authority", 9).alias("authority"))
        .orderBy("host")
    )


def _q_sitemap_scan(spark, sf_dir):
    # f10: two-hop sitemap source — a <sitemapindex> page fans out to
    # per-host <urlset> sitemaps, whose entries (incl. OPTIONAL
    # lastmod/priority children) become frontier candidates; the
    # Spark side must round-trip the synthesized XML through the
    # itertag split + per-entry xpath projection
    from hepcrawl_spark.sources import sitemap

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".docs.example.com"))
    entry = F.concat(
        F.lit("<url><loc>http://"), host, F.lit("/d/"),
        F.col("doc_id").cast("string"), F.lit("</loc>"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.concat(
            F.lit("<lastmod>2024-01-"),
            F.lpad((1 + F.col("doc_id") % 28).cast("string"), 2, "0"),
            F.lit("</lastmod>"))),
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit("<priority>0."),
            (F.col("doc_id") % 9 + 1).cast("string"),
            F.lit("</priority>"))).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = (
        docs.select(host.alias("url_host"),
                    F.struct(F.col("doc_id"), entry.alias("e")).alias("se"))
        .groupBy("url_host")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("se")),
                        lambda x: x["e"]), "").alias("body"))
        .select(
            F.concat(F.lit("http://"), F.col("url_host"),
                     F.lit("/sitemap.xml")).alias("url"),
            F.encode(F.concat(
                F.lit('<?xml version="1.0"?><urlset '
                      'xmlns="http://www.sitemaps.org/schemas'
                      '/sitemap/0.9">'),
                F.col("body"), F.lit("</urlset>")), "UTF-8").alias("xml"),
        )
    )
    index_xml = (
        sitemaps.select(F.struct("url").alias("s"))
        .groupBy()
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("s")),
                        lambda x: F.concat(F.lit("<sitemap><loc>"),
                                           x["url"],
                                           F.lit("</loc></sitemap>"))),
            "").alias("body"))
        .select(
            F.lit("http://docs.example.com/sitemap_index.xml").alias("url"),
            F.encode(F.concat(
                F.lit('<sitemapindex xmlns="http://www.sitemaps.org'
                      '/schemas/sitemap/0.9">'),
                F.col("body"), F.lit("</sitemapindex>")), "UTF-8")
            .alias("xml"),
        )
    )
    targets = sitemap.sitemap_index_targets(index_xml) \
        .select(F.col("sitemap_url").alias("url"))
    listed = sitemaps.join(F.broadcast(targets), "url", "semi")
    return (
        sitemap.sitemap_entries(listed)
        .select("sitemap_url", "url", "url_host", "lastmod", "sm_priority")
        .orderBy("url")
    )


def _q_sitemap_recrawl(spark, sf_dir):
    # f46: publisher-declared recrawl — changefreq/lastmod hints from
    # synthesized urlset XML (round-tripped through the real entry
    # parser) turned into interval/next-due/due verdicts
    from hepcrawl_spark.sources import sitemap

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".docs.example.com"))
    cfreq = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("daily"))
        .when(F.col("doc_id") % 4 == 1, F.lit("weekly"))
        .when(F.col("doc_id") % 4 == 2, F.lit("never"))
        .otherwise(F.lit(None).cast("string"))
    )
    entry = F.concat(
        F.lit("<url><loc>http://"), host, F.lit("/d/"),
        F.col("doc_id").cast("string"), F.lit("</loc>"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.concat(
            F.lit("<lastmod>2024-01-"),
            F.lpad((1 + F.col("doc_id") % 28).cast("string"), 2, "0"),
            F.lit("</lastmod>"))),
        F.coalesce(
            F.concat(F.lit("<changefreq>"), cfreq,
                     F.lit("</changefreq>")),
            F.lit("")),
        F.lit("</url>"),
    )
    pages = (
        docs.select(host.alias("url_host"),
                    F.struct(F.col("doc_id"), entry.alias("e"))
                    .alias("se"))
        .groupBy("url_host")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("se")),
                        lambda x: x["e"]), "").alias("body"))
        .select(
            F.concat(F.lit("http://"), F.col("url_host"),
                     F.lit("/sitemap.xml")).alias("url"),
            F.encode(F.concat(
                F.lit('<?xml version="1.0"?><urlset '
                      'xmlns="http://www.sitemaps.org/schemas'
                      '/sitemap/0.9">'),
                F.col("body"), F.lit("</urlset>")), "UTF-8")
            .alias("xml"),
        )
    )
    entries = sitemap.sitemap_entries(pages)
    return sitemap.sitemap_recrawl_due(entries, as_of="2024-01-20")


def _robots_bodies(spark, sf_dir):
    """Synthesized robots.txt bodies for the 20 event hosts —
    exercises group precedence (specific agent beats *), an ignored
    foreign-agent group, merged Disallow lines, Allow lines (chosen
    so their prefixes never match f14's candidate paths — the f14
    verdict stays pure-Disallow by construction), Crawl-delay, and
    the group-scope-free Sitemap field.  Shared by f11 and f14."""
    ev = _t(spark, sf_dir, "events")
    hosts = ev.select((F.col("user_id") % 20).alias("hid")).distinct()
    hid = F.col("hid")
    hs = hid.cast("string")
    body = F.concat(
        F.lit("# synthetic robots\n"),
        F.when(hid % 4 == 0,
               F.lit("User-agent: otherbot\nDisallow: /\n"))
        .otherwise(F.lit("")),
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /private/"), hs, F.lit("\n"),
        F.when(hid % 2 == 1, F.concat(
            F.lit("Allow: /private/"), hs, F.lit("/pub/\n")))
        .otherwise(F.lit("")),
        F.when(hid % 3 == 0, F.lit("Disallow: /tmp/\n"))
        .otherwise(F.lit("")),
        F.when(hid % 2 == 0, F.concat(
            F.lit("Crawl-delay: "), (hid % 7 + 1).cast("string"),
            F.lit("\n"))).otherwise(F.lit("")),
        F.when(hid % 5 == 0, F.concat(
            F.lit("User-agent: sparkbot\nDisallow: /only/"), hs,
            F.lit("\nAllow: /only/"), hs, F.lit("/ok\n"),
            F.lit("Crawl-delay: 9\n"))).otherwise(F.lit("")),
        F.lit("Sitemap: http://h"), hs,
        F.lit(".example.com/sitemap.xml\n"),
    )
    return hosts.select(
        F.concat(F.lit("h"), hs, F.lit(".example.com")).alias("url_host"),
        body.alias("body"),
    )


def _q_robots_parse(spark, sf_dir):
    # f11: raw robots.txt bodies -> the rules dimension the robots
    # gate joins (+ Sitemap discovery); the oracle states the closed
    # form of what the parser must recover
    from hepcrawl_spark.frontier import robotstxt

    return robotstxt.robots_table(
        _robots_bodies(spark, sf_dir), agent="sparkbot"
    ).orderBy("url_host")


def _q_robots_gate(spark, sf_dir):
    # f19: the RFC 9309 longest-match verdict end-to-end — raw
    # bodies (with Allow lines) -> robots_table -> robots_filter;
    # three path shapes per host exercise the allow punch-through
    # ('/pub/' under a disallowed subtree), the still-blocked
    # sibling, and the untouched path; the oracle states the closed
    # form of every verdict
    from hepcrawl_spark.frontier import robotstxt
    from hepcrawl_spark.frontier.robots import robots_filter

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 20).alias("hid"),
        (F.col("event_id") % 3).alias("v"),
        (F.col("event_id") % 50).alias("n"),
    ).distinct()
    hs = F.col("hid").cast("string")
    ns = F.col("n").cast("string")
    path = (
        F.when(F.col("v") == 0,
               F.concat(F.lit("/private/"), hs, F.lit("/pub/d"), ns))
        .when(F.col("v") == 1,
              F.concat(F.lit("/private/"), hs, F.lit("/s"), ns))
        .otherwise(F.concat(F.lit("/p/"), ns))
    )
    cand = ev.select(
        F.concat(F.lit("h"), hs, F.lit(".example.com"))
        .alias("url_host"),
        path.alias("path"),
    ).withColumn(
        "canon_url",
        F.concat(F.lit("http://"), F.col("url_host"), F.col("path")),
    )
    rules = robotstxt.robots_table(
        _robots_bodies(spark, sf_dir), agent="sparkbot"
    )
    allowed, blocked = robots_filter(cand, rules)
    return allowed.select(
        "url_host", "path", F.lit(0).alias("blocked")
    ).unionByName(
        blocked.select("url_host", "path", F.lit(1).alias("blocked"))
    )


def _q_crawl_clean(spark, sf_dir):
    # p10: the crawl feeds the corpus pipeline end-to-end — seen gate
    # → schedule → fetch join → Arrow extraction → Gopher gate → exact
    # dedup → lang/fingerprint.  The html-generic extraction
    # round-trips each page's visible text as
    # 'Doc {id} {original text}' (title + body, whitespace-collapsed;
    # the synthesized corpus is collapse-invariant), so the oracle is
    # the p01 SQL body verbatim over a CTE that shadows `documents`
    # with the same closed-form text
    from hepcrawl_spark.operators.corpus import clean_corpus

    recs = _crawl_round(spark, _t(spark, sf_dir, "documents"))
    crawled = recs.select(
        F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.col("abstract").alias("text"),
    )
    return clean_corpus(crawled).select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint"
    )


def _q_queue_budget(spark, sf_dir):
    # f15: round budgeting — per-host fairness cap (skew-safe
    # two-phase rank) then global top-k (TakeOrderedAndProject, no
    # global sort) over the event-synthesized queue
    from hepcrawl_spark.frontier.politeness import queue_budget

    cand = _event_candidates(spark, sf_dir)
    kept, _shed = queue_budget(cand, per_host=3, total=40)
    return kept.select("url", "url_host", "seq").orderBy("url", "seq")


def _q_weighted_budget(spark, sf_dir):
    # f39: value-weighted round budgeting (IRLbot's
    # reputation-proportional budgets) — the surplus over a 1-fetch
    # floor apportions across hosts by weight via exact
    # largest-remainder (Hamilton) seats, then each host keeps its
    # quota-best by the queue order; weights here are the
    # deterministic 1 + hid%5 profile (in production: f35 OPIC /
    # f09 PageRank importances via rank_priorities)
    from hepcrawl_spark.frontier.politeness import weighted_budget

    cand = _event_candidates(spark, sf_dir)
    weights = cand.select("url_host").distinct().select(
        "url_host",
        (1 + F.regexp_extract("url_host", r"h(\d+)\.", 1).cast("long")
         % 5).cast("double").alias("weight"),
    )
    kept, _quotas = weighted_budget(cand, weights, total=60, floor=1)
    return kept.select("url", "url_host", "seq").orderBy("url", "seq")


def _q_host_skew(spark, sf_dir):
    # f16: queue skew diagnostic — top hosts by depth with share and
    # cumulative share (synthesized queue is near-uniform over 20
    # hosts, so ties resolve by the host tie-break, both engines)
    from hepcrawl_spark.frontier.politeness import host_skew_report

    cand = _event_candidates(spark, sf_dir)
    return host_skew_report(cand, top_k=10).select(
        "url_host", "depth", "rank", "share", "cum_share"
    ).orderBy("rank")


def _q_discovery_schedule(spark, sf_dir):
    # f14: the full discovery loop composed end-to-end — robots.txt
    # parse -> Sitemap discovery -> urlset XML round-trip -> robots
    # gate (prefix rules from the PARSED bodies) -> politeness merge
    # (robots Crawl-delay overrides the budget) -> schedule.  Half the
    # candidate paths are /private/... so the parsed * groups actually
    # bite, except on the hid%5 hosts whose sparkbot group replaces
    # them — the oracle mirrors the whole cascade closed-form
    from hepcrawl_spark.frontier import robotstxt
    from hepcrawl_spark.frontier.robots import effective_politeness
    from hepcrawl_spark.sources import sitemap as sm

    rules = robotstxt.robots_table(
        _robots_bodies(spark, sf_dir), agent="sparkbot").persist()
    targets = robotstxt.discovered_sitemaps(rules)

    ev = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"),
                    F.lit(".example.com"))
    path = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit("/private/"), (F.col("event_id") % 97).cast("string")),
    ).otherwise(
        F.concat(F.lit("/p/"), (F.col("event_id") % 97).cast("string"))
    )
    cand_base = (
        ev.select(host.alias("url_host"),
                  F.concat(F.lit("http://"), host, path).alias("url"),
                  F.col("event_id"))
        .groupBy("url_host", "url")
        .agg(F.min("event_id").alias("seq"))
    )
    # per-host urlset XML from the candidate set, kept only where the
    # parsed robots actually declared the sitemap (semi join on the
    # discovered targets), then parsed back through sitemap_entries
    sitemaps_xml = (
        cand_base.select(
            "url_host",
            F.struct("url", F.concat(F.lit("<url><loc>"), F.col("url"),
                                     F.lit("</loc></url>")).alias("e"))
            .alias("se"))
        .groupBy("url_host")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("se")),
                        lambda x: x["e"]), "").alias("body"))
        .select(
            F.concat(F.lit("http://"), F.col("url_host"),
                     F.lit("/sitemap.xml")).alias("url"),
            F.encode(F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org'
                      '/schemas/sitemap/0.9">'),
                F.col("body"), F.lit("</urlset>")), "UTF-8").alias("xml"),
        )
    )
    listed = sitemaps_xml.join(
        F.broadcast(targets.select(F.col("sitemap_url").alias("url"))),
        "url", "semi")
    cands = (
        sm.sitemap_entries(listed).select("url")
        .join(cand_base.select("url", "seq"), "url")
        .select("url", F.lit(0).cast("long").alias("priority"), "seq")
    )
    cands = with_url_identity(cands)
    allowed, _blocked = robots_filter(cands, rules)
    pol = rules.select(
        "url_host", F.lit(1.0).alias("download_delay"),
        F.lit(2).alias("max_per_host"))
    sched, _, _ = schedule(allowed, effective_politeness(pol, rules),
                           None, round_start=0.0, horizon=None)
    return sched.select(
        "url", "url_host", "seq",
        F.col("host_rank").cast("long").alias("host_rank"),
        F.col("fetch_ts").alias("fetch_ts"),
    ).orderBy("url")


# f12/f13 snapshot synthesis + as-of constants, shared by the Spark
# wrappers and both oracles (the history CTE is rendered once)
_SNAP_URL = "'http://h' || ((event_id % 997) % 20) " \
            "|| '.example.com/p/' || (event_id % 997)"
_RECRAWL_AS_OF_US = 1_709_251_200_000_000   # 2024-03-01T00:00:00Z
_RECRAWL_MIN_AGE_SEC = 604_800              # 7 days
_RECRAWL_LEVELS = 100

_SNAP_HIST_SQL = f"""
            p AS (
              SELECT {_SNAP_URL} AS url, ts,
                     '<html>' || event_type || '</html>' AS content
              FROM events
            ), s AS (
              SELECT url, epoch_us(ts) AS ts_us, content,
                     lag(content) OVER (PARTITION BY url ORDER BY ts)
                       AS prev,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC) AS rn_desc
              FROM p
            ), hist AS (
              SELECT url,
                     count(*)::BIGINT AS versions,
                     sum(CASE WHEN prev IS NOT NULL AND prev <> content
                              THEN 1 ELSE 0 END)::BIGINT AS changes,
                     min(ts_us) AS first_ts_us,
                     max(ts_us) AS last_ts_us,
                     (max(CASE WHEN rn_desc = 1 THEN
                            CASE WHEN prev IS NOT NULL
                                 AND prev <> content
                                 THEN 1 ELSE 0 END END) = 1)
                       AS last_changed
              FROM s GROUP BY url
            )"""


def _snapshot_pages(spark, sf_dir):
    """Common-Crawl-style multi-snapshot pages from events: one URL
    per event_id%997, one snapshot per event, content = event_type
    (so adjacent snapshots sometimes repeat — real churn shape)."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("event_id") % 997
    return ev.select(
        F.concat(F.lit("http://h"), (uid % 20).cast("string"),
                 F.lit(".example.com/p/"), uid.cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.encode(F.concat(F.lit("<html>"), F.col("event_type"),
                          F.lit("</html>")), "UTF-8").alias("html"),
    )


def _q_snapshot_churn(spark, sf_dir):
    # f12: per-URL snapshot/churn stats over a multi-snapshot pages
    # table — change detection via xxhash64 digests so only
    # (url, ts, digest) ever shuffles, never the html bodies
    from hepcrawl_spark.frontier import recrawl

    return recrawl.snapshot_history(
        _snapshot_pages(spark, sf_dir)
    ).orderBy("url")


def _q_recrawl(spark, sf_dir):
    # f13: freshness priorities — stale URLs re-enqueued with integer
    # staleness x churn priority for schedule()'s sort keys
    from hepcrawl_spark.frontier import recrawl

    hist = recrawl.snapshot_history(_snapshot_pages(spark, sf_dir))
    return recrawl.recrawl_candidates(
        hist, _RECRAWL_AS_OF_US, _RECRAWL_MIN_AGE_SEC, _RECRAWL_LEVELS,
    ).orderBy("url")


def _pr_oracle_sql() -> str:
    """Unrolled DuckDB mirror of pagerank_hosts — the SAME iteration
    count and fold expression as the Spark loop, generated from the
    same constants."""
    d = _PR_DAMPING
    ctes = [
        f"l AS ({_LINK_SQL})",
        """edges AS (
              SELECT src_host, dst_host, count(*)::BIGINT AS weight
              FROM l GROUP BY src_host, dst_host)""",
        """hosts AS (
              SELECT src_host AS host FROM edges
              UNION
              SELECT dst_host FROM edges)""",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM hosts)",
        """outw AS (
              SELECT src_host, sum(weight)::DOUBLE AS wout
              FROM edges GROUP BY src_host)""",
        "r0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS rank FROM hosts)",
    ]
    for k in range(_PR_ITERATIONS):
        ctes.append(f"""dang{k} AS (
              SELECT coalesce(sum(rank), 0.0) AS dm FROM r{k}
              WHERE host NOT IN (SELECT src_host FROM outw))""")
        ctes.append(f"""c{k} AS (
              SELECT e.dst_host,
                     sum(r.rank * e.weight / o.wout) AS contrib
              FROM edges e
              JOIN r{k} r ON r.host = e.src_host
              JOIN outw o ON o.src_host = e.src_host
              GROUP BY e.dst_host)""")
        ctes.append(f"""r{k + 1} AS (
              SELECT h.host,
                     (1 - {d}) / (SELECT n FROM nn)
                     + {d} * (coalesce(c.contrib, 0.0)
                              + (SELECT dm FROM dang{k})
                                / (SELECT n FROM nn)) AS rank
              FROM hosts h LEFT JOIN c{k} c ON c.dst_host = h.host)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
            SELECT host, round(rank, 9) AS rank
            FROM r{_PR_ITERATIONS} ORDER BY host"""
    )


def _opic_oracle_sql() -> str:
    """Unrolled DuckDB mirror of opic_hosts — the SAME round count and
    fold expression as the Spark loop, generated from the same
    constants; hist banks the PRE-round cash, new cash = in-edge
    forwards + the uniform dangling redistribution."""
    ctes = [
        f"l AS ({_LINK_SQL})",
        """edges AS (
              SELECT src_host, dst_host, count(*)::BIGINT AS weight
              FROM l GROUP BY src_host, dst_host)""",
        """hosts AS (
              SELECT src_host AS host FROM edges
              UNION
              SELECT dst_host FROM edges)""",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM hosts)",
        """outw AS (
              SELECT src_host, sum(weight)::DOUBLE AS wout
              FROM edges GROUP BY src_host)""",
        """s0 AS (
              SELECT host, 1.0 / (SELECT n FROM nn) AS cash,
                     0.0 AS hist
              FROM hosts)""",
    ]
    for k in range(_OPIC_ROUNDS):
        ctes.append(f"""dang{k} AS (
              SELECT coalesce(sum(cash), 0.0) AS dm FROM s{k}
              WHERE host NOT IN (SELECT src_host FROM outw))""")
        ctes.append(f"""c{k} AS (
              SELECT e.dst_host,
                     sum(s.cash * e.weight / o.wout) AS contrib
              FROM edges e
              JOIN s{k} s ON s.host = e.src_host
              JOIN outw o ON o.src_host = e.src_host
              GROUP BY e.dst_host)""")
        ctes.append(f"""s{k + 1} AS (
              SELECT h.host,
                     coalesce(c.contrib, 0.0)
                       + (SELECT dm FROM dang{k}) / (SELECT n FROM nn)
                       AS cash,
                     h.hist + h.cash AS hist
              FROM s{k} h LEFT JOIN c{k} c ON c.dst_host = h.host)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
            SELECT host, round(cash, 9) AS cash, round(hist, 9) AS hist,
                   round((hist + cash) / {float(_OPIC_ROUNDS + 1)}, 9)
                     AS importance
            FROM s{_OPIC_ROUNDS} ORDER BY host"""
    )


def _tr_oracle_sql() -> str:
    """Unrolled DuckDB mirror of trustrank_hosts — the SAME seed set,
    iteration count and fold expression as the Spark loop, generated
    from the same constants; teleport AND dangling mass go to the
    seeds, never uniformly."""
    d = _PR_DAMPING
    seeds_sql = ", ".join(f"'{s}'" for s in _TR_SEEDS)
    t = "CASE WHEN h.is_seed THEN 1.0 / (SELECT k FROM ns) ELSE 0.0 END"
    ctes = [
        f"l AS ({_LINK_SQL})",
        """edges AS (
              SELECT src_host, dst_host, count(*)::BIGINT AS weight
              FROM l GROUP BY src_host, dst_host)""",
        f"""hs AS (
              SELECT host, host IN ({seeds_sql}) AS is_seed
              FROM (SELECT src_host AS host FROM edges
                    UNION
                    SELECT dst_host FROM edges))""",
        "ns AS (SELECT count(*)::DOUBLE AS k FROM hs WHERE is_seed)",
        """outw AS (
              SELECT src_host, sum(weight)::DOUBLE AS wout
              FROM edges GROUP BY src_host)""",
        """r0 AS (
              SELECT host, is_seed,
                     CASE WHEN is_seed THEN 1.0 / (SELECT k FROM ns)
                          ELSE 0.0 END AS trust
              FROM hs)""",
    ]
    for k in range(_PR_ITERATIONS):
        ctes.append(f"""dang{k} AS (
              SELECT coalesce(sum(trust), 0.0) AS dm FROM r{k}
              WHERE host NOT IN (SELECT src_host FROM outw))""")
        ctes.append(f"""c{k} AS (
              SELECT e.dst_host,
                     sum(r.trust * e.weight / o.wout) AS contrib
              FROM edges e
              JOIN r{k} r ON r.host = e.src_host
              JOIN outw o ON o.src_host = e.src_host
              GROUP BY e.dst_host)""")
        ctes.append(f"""r{k + 1} AS (
              SELECT h.host, h.is_seed,
                     (1 - {d}) * {t}
                     + {d} * (coalesce(c.contrib, 0.0)
                              + (SELECT dm FROM dang{k}) * {t}) AS trust
              FROM hs h LEFT JOIN c{k} c ON c.dst_host = h.host)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
            SELECT host, round(trust, 9) AS trust
            FROM r{_PR_ITERATIONS} ORDER BY host"""
    )


def _hits_oracle_sql() -> str:
    """Unrolled DuckDB mirror of hits_hosts — the SAME iteration
    count and update/normalize expressions as the Spark loop,
    generated from the same constants."""
    ctes = [
        f"l AS ({_LINK_SQL})",
        """edges AS (
              SELECT src_host, dst_host, count(*)::BIGINT AS weight
              FROM l GROUP BY src_host, dst_host)""",
        """hosts AS (
              SELECT src_host AS host FROM edges
              UNION
              SELECT dst_host FROM edges)""",
        "h0 AS (SELECT host, 1.0 AS hub FROM hosts)",
    ]
    for k in range(_HITS_ITERATIONS):
        # MATERIALIZED: DuckDB inlines CTEs by default and each
        # iteration references its predecessors twice, so the
        # unmaterialized 5-iteration unroll expands ~4^5 plans
        # (observed: minutes of CPU); materializing keeps the oracle
        # linear in iterations
        ctes.append(f"""araw{k} AS MATERIALIZED (
              SELECT e.dst_host, sum(h.hub * e.weight) AS a
              FROM edges e JOIN h{k} h ON h.host = e.src_host
              GROUP BY e.dst_host)""")
        ctes.append(
            f"asum{k} AS (SELECT sum(a) AS s FROM araw{k})")
        ctes.append(f"""a{k} AS MATERIALIZED (
              SELECT hs.host,
                     coalesce(ar.a, 0.0) / (SELECT s FROM asum{k})
                       AS authority
              FROM hosts hs LEFT JOIN araw{k} ar
                ON ar.dst_host = hs.host)""")
        ctes.append(f"""hraw{k} AS MATERIALIZED (
              SELECT e.src_host, sum(a.authority * e.weight) AS h
              FROM edges e JOIN a{k} a ON a.host = e.dst_host
              GROUP BY e.src_host)""")
        ctes.append(
            f"hsum{k} AS (SELECT sum(h) AS s FROM hraw{k})")
        ctes.append(f"""h{k + 1} AS MATERIALIZED (
              SELECT hs.host,
                     coalesce(hr.h, 0.0) / (SELECT s FROM hsum{k})
                       AS hub
              FROM hosts hs LEFT JOIN hraw{k} hr
                ON hr.src_host = hs.host)""")
    last = _HITS_ITERATIONS
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
            SELECT h.host, round(h.hub, 9) AS hub,
                   round(a.authority, 9) AS authority
            FROM h{last} h JOIN a{last - 1} a ON a.host = h.host
            ORDER BY h.host"""
    )


# t20/p11 shared C4 mirror: the constructed input (re-chunk +
# terminal '.' + injected javascript line) and the line-rule filter
# as CTEs, so the standalone t20 oracle and the p11 composition use
# byte-identical SQL and cannot drift
_C4_CTES = f"""c4toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), c4s AS (
              SELECT doc_id,
                array_to_string(list_transform(range((len(t)+3) // 4),
                  i -> array_to_string(t[i*4+1:i*4+4], ' ')
                       || CASE WHEN i % 3 != 0 THEN '.' ELSE '' END),
                  chr(10)) AS text
              FROM c4toks
            ), c4a AS (
              SELECT doc_id,
                CASE WHEN doc_id % 7 = 0
                     THEN text || chr(10)
                          || 'insert javascript {{ var }}.'
                     ELSE text END AS text
              FROM c4s
            ), c4l AS (
              SELECT doc_id, text,
                     string_split(text, chr(10)) AS ls
              FROM c4a
            ), c4k AS (
              SELECT doc_id, text, ls,
                list_filter(ls, x ->
                  right(x, 1) IN ('.', '!', '?', '"')
                  AND len(regexp_split_to_array(regexp_replace(x,
                        '^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$',
                        '', 'g'), '[ \\t\\n\\f\\r]+')) >= 4
                  AND NOT contains(lower(x), 'javascript')) AS kept
              FROM c4l
            )"""

# the page verdict + cleaned text over c4k — t20 projects it,
# p11 filters on it
_C4_PAGE_OK_SQL = ("(len(kept) >= 3 AND NOT contains(lower(text), "
                   "'{') AND NOT contains(lower(text), 'lorem ipsum'))")


# t21/p12 shared CCNet bucketing mirror (see ccnet_buckets): t10's
# score, the t07 md5 sample, integer-ceil boundary ranks, COALESCEd
# broadcast comparisons
_CCNET_SQL = f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), freq AS (
              SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
            ), tot AS (
              SELECT sum(cnt)::DOUBLE AS total FROM freq
            ), sc AS (
              SELECT doc_id, count(*)::BIGINT AS token_cnt,
                     round(avg(ln(cnt::DOUBLE / total)), 6)
                       AS mean_logprob
              FROM toks JOIN freq USING (tok), tot GROUP BY doc_id
            ), j AS (
              SELECT d.doc_id, d.lang, sc.token_cnt, sc.mean_logprob
              FROM documents d JOIN sc ON sc.doc_id = d.doc_id
            ), samp AS (
              SELECT * FROM j
              WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':c42'),
                     1, 4))::BIGINT < 16384
            ), rk AS (
              SELECT lang, doc_id, mean_logprob,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY mean_logprob DESC, doc_id) AS rnk,
                     count(*) OVER (PARTITION BY lang) AS m
              FROM samp
            ), b AS (
              SELECT lang,
                     max(CASE WHEN rnk = (m * 1 + 2) // 3
                              THEN mean_logprob END) AS b1,
                     max(CASE WHEN rnk = (m * 2 + 2) // 3
                              THEN mean_logprob END) AS b2
              FROM rk GROUP BY lang
            )
            SELECT j.doc_id, j.lang, j.token_cnt, j.mean_logprob,
                   (1 + COALESCE((j.mean_logprob < b.b1)::INT, 0)
                      + COALESCE((j.mean_logprob < b.b2)::INT, 0)
                   )::INT AS bucket
            FROM j LEFT JOIN b USING (lang)
"""


# f18 seed-distance constants — a 23-cycle host graph with per-doc
# step 1..3 gives real multi-hop distances from the single seed;
# rendered into BOTH engines so the constructions cannot drift
_HOP_HOSTS = 23
_HOP_SEEDS = ["h0.example.com"]
_HOP_MAX = 8


def _q_hop_distance(spark, sf_dir):
    # f18: BFS hop distance from the seed host over a synthesized
    # host cycle — the per-host depth bound the crawl planner
    # budgets politeness by (fixed relaxation rounds, exact mirror)
    from hepcrawl_spark.frontier import linkgraph

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id") % _HOP_HOSTS
    step = F.lit(1) + F.col("doc_id") % 3
    edges = docs.select(
        F.concat(F.lit("h"), i.cast("string"),
                 F.lit(".example.com")).alias("src_host"),
        F.concat(F.lit("h"), ((i + step) % _HOP_HOSTS).cast("string"),
                 F.lit(".example.com")).alias("dst_host"),
    ).groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("weight")
    )
    return linkgraph.hop_distance(
        edges, _HOP_SEEDS, max_hops=_HOP_MAX
    ).select(
        "host", F.col("hops").cast("int").alias("hops")
    ).orderBy("host")


def _hop_oracle_sql() -> str:
    """Unrolled DuckDB mirror of hop_distance — the SAME relaxation
    count and edge construction as the Spark side, generated from the
    same constants."""
    seeds = ", ".join(f"'{s}'" for s in _HOP_SEEDS)
    ctes = [
        f"""e AS (
              SELECT 'h' || (doc_id % {_HOP_HOSTS}) || '.example.com'
                       AS src_host,
                     'h' || ((doc_id % {_HOP_HOSTS} + 1 + doc_id % 3)
                             % {_HOP_HOSTS}) || '.example.com'
                       AS dst_host
              FROM documents GROUP BY 1, 2)""",
        """hosts AS (
              SELECT src_host AS host FROM e
              UNION SELECT dst_host FROM e)""",
        f"""d0 AS (
              SELECT host, 0 AS hops FROM hosts
              WHERE host IN ({seeds}))""",
    ]
    for k in range(_HOP_MAX):
        ctes.append(f"""d{k + 1} AS (
              SELECT host, min(hops) AS hops FROM (
                SELECT host, hops FROM d{k}
                UNION ALL
                SELECT e.dst_host AS host, d.hops + 1 AS hops
                FROM d{k} d JOIN e ON e.src_host = d.host
              ) GROUP BY host)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
            SELECT host, hops::INT AS hops
            FROM d{_HOP_MAX} ORDER BY host"""
    )


# t15/t17/p07 shared mixing tables — defined once and rendered into
# BOTH the Spark plan and the SQL mirror so the two cannot drift
_MIX_RATES = {("src0", "en"): 1.0, ("src1", "en"): 0.5,
              ("src0", "de"): 0.25}
_MIX_DEFAULT = 0.125
_MIX_SALT = "mix1"
_MIX_QUOTAS = {"en": 40, "de": 20, "es": 10, "fr": 10, "zh": 5}

_MIX_CASE_SQL = ("CASE " + " ".join(
    f"WHEN source = '{s}' AND lang = '{l}' THEN {int(r * 0x10000)}"
    for (s, l), r in sorted(_MIX_RATES.items())
) + f" ELSE {int(_MIX_DEFAULT * 0x10000)} END")
_MIX_PRED_SQL = (
    f"('0x' || substr(md5(doc_id::VARCHAR || ':{_MIX_SALT}'), 1, 4))"
    f"::BIGINT < {_MIX_CASE_SQL}"
)
_MIX_QUOTA_CASE_SQL = ("CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_QUOTAS.items())
) + " ELSE 0 END")


def _q_mix_sample(spark, sf_dir):
    # t15: data mixing by per-(source, lang) rate table — the
    # Pile/Dolma-style mixture step; RNG-free md5-threshold filter
    from hepcrawl_spark.operators.corpus import mix_sample

    return mix_sample(
        _t(spark, sf_dir, "documents"), _MIX_RATES,
        default_rate=_MIX_DEFAULT, salt=_MIX_SALT,
    ).select("doc_id", "source", "lang")


def _q_mix_quota(spark, sf_dir):
    # t17: exact integer-quota mixing — first quota[s] docs of each
    # lang shard in deterministic md5 order, ranked via the skew-safe
    # two-phase cumsum (never a per-shard window)
    from hepcrawl_spark.operators.corpus import mix_quota

    inner = mix_quota(_t(spark, sf_dir, "documents"), _MIX_QUOTAS,
                      group_cols=("lang",), salt=_MIX_SALT)
    return inner.select("doc_id", "lang", "source")


def _q_mix_pack(spark, sf_dir):
    # p07: mix → pack composition — the mixture filter feeds the
    # packed training-sequence layout directly
    from hepcrawl_spark.operators.corpus import mix_sample, pack_sequences

    mixed = mix_sample(_t(spark, sf_dir, "documents"), _MIX_RATES,
                       default_rate=_MIX_DEFAULT, salt=_MIX_SALT)
    inner = pack_sequences(mixed, capacity=512)
    return inner.select("doc_id", "token_cnt", "seq_id", "seq_offset")


def _q_classifier_train(spark, sf_dir):
    # t16: in-Spark classifier training — multinomial Naive-Bayes
    # log-odds over the t12 hashed buckets, labels = (lang = 'en');
    # the trained weight table must reproduce cross-engine
    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("long")
    )
    return textops.train_nb_weights(docs).select(
        "bucket", "n_pos", "n_neg", "weight"
    )


def _q_sample_stratified(spark, sf_dir):
    samp = textops.stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates={"en": 0.75, "de": 0.25},
        default_rate=0.1,
    )
    return samp.select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Round-5 additions: entropy screen, release splits, bigram LM, DSIR
# selection, quality-aware cluster representatives
# ---------------------------------------------------------------------------

# t28: character-entropy gibberish screen — parameters are module
# constants so the Spark call and the SQL mirror render from the
# same values
_ENTROPY_MAX_CHARS = 4096
_ENTROPY_MIN_CHARS = 64
_ENTROPY_MIN_BITS = 2.0

# t28/p15 shared entropy renderer: the p*ln(p) fold over the
# prefix-sampled code-point array, one text for both the standalone
# signal and the pipeline gate (mirrors cannot drift)
_ENTROPY_A_SQL = (
    f"(regexp_extract_all(text, '[^\\n\\r]'))[1:{_ENTROPY_MAX_CHARS}]"
)


def _entropy_sql(a: str) -> str:
    return (
        f"round(-list_sum(list_transform(list_distinct({a}), "
        f"c -> (len(list_filter({a}, x -> x = c))::DOUBLE / len({a})) "
        f"* ln(len(list_filter({a}, x -> x = c))::DOUBLE / len({a}))))"
        " / ln(2), 6) + 0.0"
    )


# p15 extra gate: drop iff enough sampled chars AND entropy below the
# floor — NULL entropy (no chars) never satisfies the conjunction.
# The pipeline gate runs at 4.0 bits (natural prose in the synthetic
# corpus spans ~3.7-4.2, so the composition has real selectivity);
# the standalone t28 flag keeps the public ~2.0 gibberish bar.
_P15_MIN_BITS = 4.0
_P15_ENTROPY_GATE = (
    f"\n                AND NOT (len({_ENTROPY_A_SQL})"
    f" >= {_ENTROPY_MIN_CHARS}"
    f"\n                AND {_entropy_sql(_ENTROPY_A_SQL)}"
    f" < {_P15_MIN_BITS})"
)

# t29/p14: deterministic release-split table; bounds are integers in
# 1/65536ths rendered by corpus.split_bounds for BOTH engines
_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SPLIT_SALT = "split"
_SPLIT_BOUNDS = corpus_ops.split_bounds(_SPLIT_FRACTIONS)
_SPLIT_BUCKET_SQL = (
    f"('0x' || substr(md5(doc_id::VARCHAR || ':{_SPLIT_SALT}'), "
    "1, 4))::BIGINT"
)
_SPLIT_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN {_SPLIT_BUCKET_SQL} < {b} THEN '{n}'"
        for n, b in _SPLIT_BOUNDS
    )
    + f" ELSE '{list(_SPLIT_FRACTIONS)[-1]}' END"
)
_SPLIT_TRAIN_PRED = f"{_SPLIT_BUCKET_SQL} < {_SPLIT_BOUNDS[0][1]}"

# t30: bigram-LM interpolation weight (0.75/0.25 are exact binary
# doubles, identical literals on both engines)
_BIGRAM_LAM = 0.75

# t42: Kneser-Ney absolute discount (exact binary double; the
# standard D=0.75 of Chen & Goodman 1999)
_KN_DISCOUNT = 0.75

# t46/p24 shared: the GPT-2-style pre-tokenizer pattern as a DuckDB
# string literal (leading apostrophe doubled), and the non-whitespace
# match filter — one constant so the two mirrors cannot drift
# explicit code-point ranges, not \p{L}/\p{N}: Unicode category
# tables skew between Java 17 and RE2 on supplementary planes
# (found by hypothesis) — see textops.SUBWORD_RE
_SUBWORD_RE_SQL = (
    "'''(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z\\x{00C0}-\\x{10FFFF}]+"
    "| ?[0-9]+"
    "| ?[^ \\t\\n\\f\\r A-Za-z0-9\\x{00C0}-\\x{10FFFF}]+"
    "|[ \\t\\n\\f\\r]+'"
)
_SUBWORD_NW_SQL = (
    "list_filter(regexp_extract_all(text, " + _SUBWORD_RE_SQL + "), "
    "x -> NOT regexp_matches(x, '^[ \\t\\n\\f\\r]+$'))"
)

# t43: Count-Min sketch shape + heavy-hitter threshold (integers —
# the whole query is exact integer arithmetic on both engines)
_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_MIN_EST = 64

# t31: DSIR Gumbel-top-k selection size + uniform salt
_DSIR_SELECT_K = 100
_DSIR_SELECT_SALT = "dsir-rs"

# m05/m06 shared perceptual-hash mirror: the byte-sampled 60-bit
# average hash (bit = S*sample > sum, positional acc*2+bit fold —
# identical on both engines; DuckDB samples via substring over
# hex(media) since it cannot slice BLOBs, Spark via 1-byte BINARY
# substr).  _PHASH_HAMMING_MAX <= 3 keeps the 4-band pigeonhole
# EXACT, which is what lets the full-join oracle check m06.
_PHASH_S = multimodal.PHASH_SAMPLES
_PHASH_HAMMING_MAX = 3
_PHASH_DEFAULT_PM = """pm AS (
              SELECT doc_id, encode(text) AS media FROM documents
            )"""
_PHASH_PLANTED_PM = """pm AS (
              SELECT d.doc_id,
                     encode(substring(b.text, 1,
                              greatest(length(b.text) - 1, 0))
                            || ['a','b','c','d','e']
                               [(d.doc_id % 5 + 1)::INT]) AS media
              FROM documents d
              JOIN documents b
                ON b.doc_id = d.doc_id - d.doc_id % 5
            )"""
_PHASH_TAIL = f""", ps AS (
              SELECT doc_id, octet_length(media)::BIGINT AS n,
                     list_transform(range({_PHASH_S}), i ->
                       ('0x' || substring(hex(media),
                          2 * ((i * octet_length(media))
                               // {_PHASH_S}) + 1, 2))::BIGINT) AS sm
              FROM pm WHERE octet_length(media) > 0
            ), ph AS (
              SELECT doc_id, n AS n_bytes,
                     list_reduce(list_prepend(0::BIGINT,
                       list_transform(sm, x ->
                         CASE WHEN {_PHASH_S} * x > list_sum(sm)
                              THEN 1::BIGINT ELSE 0::BIGINT END)),
                       (a, x) -> a * 2 + x)::BIGINT AS phash
              FROM ps
            )"""


# t32: score-proportional sampling salt
_QS_SALT = "qs"


def _q_score_sample(spark, sf_dir):
    # t32: quality-weighted soft sampling — keep probability equals
    # the t12 logistic score (FineWeb-Edu-style retention curve
    # instead of a threshold cliff); RNG-free md5 substrate
    return textops.score_sample(
        _t(spark, sf_dir, "documents"), salt=_QS_SALT
    )


def _q_clean_entropy(spark, sf_dir):
    # p15: the p01 pipeline with the t28 entropy screen ANDed into
    # the gate — same single-scan shape, one more predicate
    return corpus_ops.clean_corpus(
        _t(spark, sf_dir, "documents"),
        min_entropy=_P15_MIN_BITS,
    )


def _q_media_cluster_best(spark, sf_dir):
    # d13: the media dedup loop closed — phash fingerprints (m05) →
    # Hamming-ball pairs (m06) → connected components → ONE kept
    # member per cluster by quality score (the best-resolution pick
    # of an image pipeline; the deterministic md5 bucket stands in
    # for the resolution/quality column, same RNG-free idiom as t07)
    media = _planted_media(spark, sf_dir)
    hashes = multimodal.phash_media(media)
    pairs = multimodal.phash_pairs(media,
                                   hamming_max=_PHASH_HAMMING_MAX)
    quality = media.select(
        "doc_id",
        textops.sample_bucket_col(F.col("doc_id"), "mq")
        .alias("quality"),
    )
    return dedup.cluster_representatives(hashes, pairs, quality)


def _q_source_drift(spark, sf_dir):
    # t33: per-source unigram KL drift vs the pooled corpus — the
    # dump-over-dump distribution-monitoring signal
    return textops.source_drift(_t(spark, sf_dir, "documents"))


# t34 query set — module constant so the Spark side and the oracle
# VALUES table render from one place and cannot drift
_BM25_QUERIES = [
    (1, ["hash", "join"]),
    (2, ["window", "sort", "merge"]),
    (3, ["stream", "batch", "vector"]),
]
_BM25_VALUES_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _BM25_QUERIES for t in sorted(set(ts))
)
_BM25_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted({t for _, ts in _BM25_QUERIES for t in ts})
)

# t34/f31 shared BM25 SQL body — one template so the retrieval oracle
# and the focused-crawl-priority oracle cannot drift; {src} is the
# corpus (table name or derived table), {final} the output clause
_BM25_SQL_TMPL = """
            WITH qt(query_id, term) AS (VALUES {qvalues}),
            tk AS (SELECT {id_expr} AS doc_id, {toks} AS t FROM {src}),
            base AS (
              SELECT doc_id, len(t)::BIGINT AS dl,
                     list_filter(t, x -> list_contains(
                       [{terms}], x)) AS hits
              FROM tk
            ), stats AS (
              SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM base
            ), tf AS (
              SELECT doc_id, dl, term, count(*)::BIGINT AS tf
              FROM (SELECT doc_id, dl, unnest(hits) AS term FROM base)
              GROUP BY doc_id, dl, term
            ), dfreq AS (
              SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
            ), sc AS (
              SELECT qt.query_id, tf.doc_id,
                     round(sum(
                       ln(1.0 + (n - df + 0.5) / (df + 0.5))
                       * tf * {k1p1}
                       / (tf + {k1}
                          * ({omb}
                             + {b} * dl / avgdl))
                     ), 9) AS score
              FROM tf JOIN dfreq USING (term) JOIN qt USING (term), stats
              GROUP BY qt.query_id, tf.doc_id
            )
            {final}
        """

# f31 planted anchor vocabulary + topic — module constants shared by
# the Spark profile synthesis and the oracle's derived table
_F31_WORDS = ("neutrino", "detector", "physics", "recipe",
              "football", "camera", "weather")
_F31_TOPIC = ["neutrino", "detector"]
_F31_WORDS_SQL = "['" + "','".join(_F31_WORDS) + "']"


def _q_focused_priority(spark, sf_dir):
    # f31: focused-crawl frontier priority — BM25 relevance of each
    # candidate's (planted) inbound anchor-text profile to the topic
    # query, ranked into fetch order; the oracle shares t34's SQL
    # body via _BM25_SQL_TMPL
    from hepcrawl_spark.frontier import linkgraph

    docs = _t(spark, sf_dir, "documents")
    warr = F.array(*[F.lit(w) for w in _F31_WORDS])
    w1 = F.element_at(warr, (F.col("doc_id") % 7 + 1).cast("int"))
    w2 = F.element_at(
        warr, ((F.col("doc_id") * 3 + 1) % 7 + 1).cast("int"))
    profiles = docs.select(
        F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".docs.example.com/d/"),
                 F.col("doc_id").cast("string")).alias("dst_url"),
        F.concat(w1, F.lit(" "), w2, F.lit(" page about "), w1)
        .alias("anchor_text"),
    )
    return linkgraph.focused_priority(
        profiles, _F31_TOPIC).orderBy("priority")


def _q_bm25(spark, sf_dir):
    # t34: BM25 top-k retrieval for a fixed query set — the
    # inverted-index pattern restricted to the query vocabulary
    # (map-side token filter, postings shuffle = O(hits))
    return textops.bm25_topk(
        _t(spark, sf_dir, "documents"), _BM25_QUERIES, k=10
    )


def _q_winnow(spark, sf_dir):
    # t35: winnowing fingerprints (MOSS) — per-window rightmost-min
    # k-gram hash selection, all inside the row (HOFs, zero shuffle)
    return textops.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=3, w=4
    )


def _q_autothrottle(spark, sf_dir):
    # f26: adaptive per-host politeness (AutoThrottle, batch form) —
    # the fetch log is synthesized closed-form from doc_id (the
    # f24/f25 pattern): 7 hosts, integer-ms latencies, every 11th
    # fetch a 503 so the don't-lower-on-error rule has work, host 6
    # all-errors so the no-OK fallback has work
    from hepcrawl_spark.frontier.politeness import autothrottle_delays

    d = _t(spark, sf_dir, "documents")
    log = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".docs.example.com")).alias("url_host"),
        (F.lit(400) + (F.col("doc_id") % 7) * 900
         + (F.col("doc_id") % 13) * 37).cast("long").alias("latency_ms"),
        F.when((F.col("doc_id") % 11 == 0) | (F.col("doc_id") % 7 == 6),
               F.lit(503)).otherwise(F.lit(200)).alias("status"),
    )
    return autothrottle_delays(log).select(
        "url_host", "n_ok", "n_err", "mean_ok_ms", "delay_ms",
        "download_delay",
    )


def _retry_log(spark, sf_dir):
    # f40/f41 shared attempt-log synthesis, closed-form from doc_id
    # (the f24/f25/f26 pattern): 1–4 attempts per URL, scattered
    # 200s, 429/503 transients, and every 7th-mod-3 URL ending in a
    # 404 so all four states (done/retry/gave_up/failed) have members
    d = _t(spark, sf_dir, "documents")
    log = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.col("doc_id") % 4)).alias("i"),
    )
    status = (
        F.when((F.col("doc_id") % 7 == 3)
               & (F.col("i") == F.col("doc_id") % 4), F.lit(404))
        .when((F.col("doc_id") + F.col("i")) % 3 == 0, F.lit(200))
        .when((F.col("doc_id") + F.col("i")) % 5 == 0, F.lit(429))
        .otherwise(F.lit(503))
    )
    return log.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        ((F.col("doc_id") * 10 + F.col("i")) * 1_000_000)
        .cast("long").alias("ts_us"),
        status.alias("status"),
    )


def _q_retry_schedule(spark, sf_dir):
    # f40: RetryMiddleware-style retry state + exponential backoff
    from hepcrawl_spark.frontier.politeness import retry_schedule

    return retry_schedule(_retry_log(spark, sf_dir), max_retries=2)


def _q_retry_gate(spark, sf_dir):
    # f41: the consumption half of f40 — apply the retry verdicts to
    # a candidate frontier (every synthesized URL, plus 'unseen'
    # never-attempted URLs) at a fixed as-of instant that splits the
    # backoffs into due and deferred; oracle shares f40's SQL body
    from hepcrawl_spark.frontier.politeness import (
        apply_retry_gate,
        retry_schedule,
    )

    d = _t(spark, sf_dir, "documents")
    cand = d.select(
        F.concat(
            F.when(F.col("doc_id") % 11 == 0, F.lit("unseen-"))
            .otherwise(F.lit("u")),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 5).cast("long").alias("priority"),
    )
    retries = retry_schedule(_retry_log(spark, sf_dir), max_retries=2)
    out = apply_retry_gate(cand, retries, as_of_us=3_000_000_000)
    return out.select("url", "priority", "retry_state",
                      "next_attempt_us", "gate")


def _q_clean_full_best(spark, sf_dir):
    # p16: the p04 flagship with the d12 representative rule — each
    # near-dup cluster keeps its highest-token-count member (min id
    # on ties) instead of the arbitrary smallest id
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    inner = clean_corpus_full(_t(spark, sf_dir, "documents"),
                              capacity=512, keep_best=True)
    return inner.select("doc_id", "guessed_lang", "token_cnt",
                        "fingerprint", "seq_id", "seq_offset")


def _q_media_phash(spark, sf_dir):
    # m05: per-payload perceptual average-hash — the aHash image
    # fingerprint over the byte-sampled payload (codec seam
    # documented in phash_media)
    media = multimodal.with_media_payload(_t(spark, sf_dir, "documents"))
    return multimodal.phash_media(media)


def _q_scene_cuts(spark, sf_dir):
    # m07: shot-boundary detection — per-frame aHash over the m03
    # frame grid, lag-window Hamming distance, cut where consecutive
    # frames diverge past the threshold
    media = multimodal.with_media_payload(_t(spark, sf_dir, "documents"))
    return multimodal.frame_scene_cuts(media, hamming_thresh=12)


def _planted_media(spark, sf_dir):
    # m06 input: groups of 5 docs share a base text (the group
    # leader's) with a same-length last-character substitution — the
    # shape real near-identical images produce (tiny payload deltas),
    # so the Hamming join has real positives to find.  The natural
    # corpus has none within radius 3 (its near-dups differ in too
    # many sampled bytes), which would make the row an empty-set
    # check.
    d = _t(spark, sf_dir, "documents").alias("d")
    b = _t(spark, sf_dir, "documents").alias("b")
    j = d.join(
        b,
        (F.col("d.doc_id") - F.col("d.doc_id") % 5)
        == F.col("b.doc_id"),
    )
    sub = F.element_at(
        F.array(*[F.lit(c) for c in "abcde"]),
        (F.col("d.doc_id") % 5 + 1).cast("int"),
    )
    text = F.concat(
        F.col("b.text").substr(
            F.lit(1),
            F.greatest(F.length("b.text") - 1, F.lit(0)).cast("int"),
        ),
        sub,
    )
    return j.select(
        F.col("d.doc_id").alias("doc_id"),
        F.encode(text, "UTF-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
    )


def _q_phash_pairs(spark, sf_dir):
    # m06: near-dup media pairs in a Hamming-3 ball — band-pigeonhole
    # join, EXACT at this radius, so the full-join oracle checks it
    return multimodal.phash_pairs(_planted_media(spark, sf_dir),
                                  hamming_max=_PHASH_HAMMING_MAX)


def _q_char_entropy(spark, sf_dir):
    # t28: Shannon entropy of the code-point distribution — the cheap
    # gibberish / binary-junk screen (prefix-sampled, low_entropy
    # verdict with the Gopher-style evidence floor)
    return textops.char_entropy(
        _t(spark, sf_dir, "documents"),
        max_chars=_ENTROPY_MAX_CHARS,
        min_chars=_ENTROPY_MIN_CHARS,
        min_entropy=_ENTROPY_MIN_BITS,
    )


def _q_assign_splits(spark, sf_dir):
    # t29: deterministic train/val/test assignment — md5-bucket CASE
    # from the shared integer boundary table
    return corpus_ops.assign_splits(
        _t(spark, sf_dir, "documents"), _SPLIT_FRACTIONS,
        salt=_SPLIT_SALT,
    ).select("doc_id", "split_bucket", "split")


def _q_bigram_logprob(spark, sf_dir):
    # t30: mean bigram log-likelihood with unigram interpolation —
    # the order-2 CCNet fluency signal (t10 is order 1)
    return textops.bigram_logprob(
        _t(spark, sf_dir, "documents"), lam=_BIGRAM_LAM
    )


def _q_pipeline_funnel(spark, sf_dir):
    # t47: the data-audit funnel every corpus release publishes —
    # docs and tokens surviving each cleaning stage (raw → Gopher
    # gate → exact dedup), as one three-row table; the oracle shares
    # the p01 component CTEs so stage semantics cannot drift
    docs = _t(spark, sf_dir, "documents")
    raw = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(textops.tokens_col(F.col("text"))).cast("long"))
        .alias("n_tokens"),
    ).select(F.lit("1_raw").alias("stage"), "n_docs", "n_tokens")
    g = corpus_ops.gated_docs(docs).persist()
    gated = g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_cnt").alias("n_tokens"),
    ).select(F.lit("2_gated").alias("stage"), "n_docs", "n_tokens")
    w = Window.partitionBy("_md5").orderBy(F.col("doc_id").asc())
    d = (
        g.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("token_cnt").alias("n_tokens"),
        )
        .select(F.lit("3_deduped").alias("stage"),
                "n_docs", "n_tokens")
    )
    return raw.unionByName(gated).unionByName(d)


def _q_curriculum_pack(spark, sf_dir):
    # p25: quality-curriculum layout — t12's rounded logistic score
    # orders the packed stream (score DESC, id ASC), p02's exact
    # two-phase cumsum cuts it; oracle shares t12's score CTEs
    from hepcrawl_spark.operators.corpus import curriculum_pack

    scored = textops.classifier_score(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", "token_cnt", "cls_score")
    inner = curriculum_pack(scored, capacity=512)
    return inner.select(
        "doc_id", "token_cnt", "cls_score", "seq_id", "seq_offset"
    )


def _q_subword_pack(spark, sf_dir):
    # p24: pack by LLM-token budget — t46's subword counter feeds
    # p02's exact two-phase cumsum unchanged
    from hepcrawl_spark.operators.corpus import pack_sequences

    counted = textops.subword_stats(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", F.col("subword_cnt").alias("token_cnt"))
    inner = pack_sequences(counted, capacity=512,
                           count_col="token_cnt")
    return inner.select("doc_id", "token_cnt", "seq_id", "seq_offset")


def _q_subword_stats(spark, sf_dir):
    # t46: BPE-ish token counting — the GPT-2 pre-tokenizer in its
    # lookaround-free cross-engine form; fertility = subwords/word
    return textops.subword_stats(_t(spark, sf_dir, "documents"))


def _q_gzip_ratio(spark, sf_dir):
    # t44: compressibility quality signal (RedPajama-v2 family) —
    # deflate is not SQL-expressible, so rows-only by contract;
    # exactness vs direct zlib.compress is pinned in pytest
    return textops.gzip_ratio(_t(spark, sf_dir, "documents"))


def _q_gopher_lines(spark, sf_dir):
    # t45: Gopher line-format rules — bullet-start / ellipsis-end
    # line fractions with the published 90%/30% thresholds
    return textops.gopher_line_rules(_t(spark, sf_dir, "documents"))


def _q_cms_heavy(spark, sf_dir):
    # t43: Count-Min heavy hitters — mergeable sketch (cell-wise sum)
    # with deterministic md5 bucket hashes; est >= exact one-sided
    return textops.cms_heavy_hitters(
        _t(spark, sf_dir, "documents"),
        depth=_CMS_DEPTH, width=_CMS_WIDTH, min_est=_CMS_MIN_EST,
    )


def _q_aged_budget(spark, sf_dir):
    # f45: priority aging under a per-host budget — entries that
    # waited longer outrank fresh arrivals, so budget shedding can
    # never starve a URL forever
    from hepcrawl_spark.frontier.politeness import (
        age_priorities,
        queue_budget,
    )

    cand = _event_candidates(spark, sf_dir)
    q = cand.withColumn(
        "enqueue_round", (F.col("seq") % 9).cast("long")
    ).withColumn(
        "priority",
        F.when(F.col("seq") % 4 == 0, F.lit(2))
        .otherwise(F.lit(0)).cast("long"),
    )
    aged = age_priorities(q, current_round=10, rate=1.0)
    kept, _ = queue_budget(
        aged.withColumn("priority", F.col("aged_priority")),
        per_host=3,
    )
    return kept.select("url_host", "seq", "aged_priority")


def _q_politeness_audit(spark, sf_dir):
    # f44: courtesy-adherence audit — f01's executed schedule plus
    # planted violations (two too-fast refetches, one oversized
    # wave); the audit must flag exactly those hosts
    from hepcrawl_spark.frontier.politeness import politeness_audit

    cand = _event_candidates(spark, sf_dir)
    pol = cand.select("url_host").distinct().select(
        "url_host",
        F.lit(5.0).alias("download_delay"),
        F.lit(2).alias("max_per_host"),
    )
    sched, _, _ = schedule(cand, pol, None, round_start=0.0,
                           horizon=None)
    planted = spark.createDataFrame(
        [("h0.example.com", 2.5), ("h7.example.com", 2.5),
         ("h3.example.com", 0.0), ("h3.example.com", 0.0),
         ("h3.example.com", 0.0)],
        "url_host string, fetch_ts double",
    )
    log = sched.select("url_host", "fetch_ts").unionByName(planted)
    return politeness_audit(log, pol)


def _q_content_seen(spark, sf_dir):
    # f43: Mercator's content-seen test — same page served under many
    # URLs is processed once (earlier fetch wins); the crawl-loop
    # integration (extraction + expansion skipped, state carried
    # across rounds and resume) is exercised in tests/test_rounds.py
    from hepcrawl_spark.frontier.fingerprint import content_seen_flag

    d = _t(spark, sf_dir, "documents")
    out = content_seen_flag(
        d.select(F.col("doc_id").alias("seq"), "text"),
        content_col="text", order_col="seq",
    )
    return out.select(
        F.col("seq").alias("doc_id"), "content_fp", "content_dup"
    )


def _q_ip_schedule(spark, sf_dir):
    # f42: per-IP politeness (Mercator §4.2 / Scrapy
    # CONCURRENT_REQUESTS_PER_IP) — vhosts sharing a server share one
    # courtesy budget; the resolution dim is a deterministic md5 fold
    # of the host (both engines read md5 identically)
    from hepcrawl_spark.frontier.politeness import ip_schedule

    cand = _event_candidates(spark, sf_dir)
    hosts = cand.select("url_host").distinct()
    host_ip = hosts.select(
        "url_host",
        F.concat(F.lit("ip-"),
                 F.substring(F.md5("url_host"), 1, 1)).alias("ip"),
    )
    ip_pol = host_ip.select("ip").distinct().select(
        "ip",
        F.lit(5.0).alias("download_delay"),
        F.lit(2).alias("max_per_ip"),
    )
    out = ip_schedule(cand, host_ip, ip_pol, round_start=0.0)
    return out.select(
        "ip", "url_host", "seq",
        F.col("ip_rank").cast("long").alias("ip_rank"),
        "fetch_ts",
    )


def _q_kn_bigram(spark, sf_dir):
    # t42: interpolated Kneser-Ney bigram fluency — the smoothing
    # KenLM/CCNet actually use; backoff mass goes to the continuation
    # distribution instead of raw unigram frequency (t30)
    return textops.kn_bigram_logprob(
        _t(spark, sf_dir, "documents"), discount=_KN_DISCOUNT
    )


def _q_dsir_select(spark, sf_dir):
    # t31: the RESAMPLING half of DSIR — deterministic Gumbel-top-k
    # over the t24 weights (orderBy+limit = TakeOrderedAndProject)
    return textops.dsir_select(
        _t(spark, sf_dir, "documents"), k=_DSIR_SELECT_K,
        select_salt=_DSIR_SELECT_SALT,
    )


def _q_cluster_best(spark, sf_dir):
    # d12: quality-aware canonical selection — d06's component graph,
    # but the KEPT member is the highest-token-count doc (min id on
    # ties) instead of the arbitrary component minimum
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8)
    quality = textops.token_stats(docs).select(
        "doc_id", F.col("token_cnt").alias("quality")
    )
    return dedup.cluster_representatives(docs, pairs, quality)


def _q_split_pack(spark, sf_dir):
    # p14: split -> pack composition — the release layout step: the
    # train split (t29's predicate) packed into training sequences
    # (p02's layout); the oracle shares both constant tables
    train = corpus_ops.assign_splits(
        _t(spark, sf_dir, "documents"), _SPLIT_FRACTIONS,
        salt=_SPLIT_SALT,
    ).where(F.col("split") == "train")
    inner = corpus_ops.pack_sequences(train, capacity=512)
    return inner.select("doc_id", "token_cnt", "seq_id", "seq_offset")


def oracle_sql() -> dict[str, str]:
    sql = {
        "q01_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
                   sum({_CENTS.format(x='l_extendedprice')})::BIGINT AS sum_base_cents,
                   sum({_CENTS.format(x='l_extendedprice * (1 - l_discount)')})::BIGINT AS sum_disc_cents,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-01-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_top_unshipped": f"""
            SELECT l_orderkey,
                   sum({_CENTS.format(x='l_extendedprice * (1 - l_discount)')})::BIGINT AS revenue_cents,
                   min(epoch_us(o_orderdate))::BIGINT AS o_odate_us
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey
            ORDER BY revenue_cents DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q03_semi_join": """
            SELECT o_orderpriority, count(*)::BIGINT AS order_count
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48
            )
            GROUP BY o_orderpriority
        """,
        "q04_anti_join": """
            SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
                   min(c_custkey)::BIGINT AS min_custkey
            FROM customer
            WHERE NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000
            )
            GROUP BY c_mktsegment
        """,
        "q05_broadcast_dim": f"""
            SELECT r_name, count(*)::BIGINT AS n_customers,
                   sum({_CENTS.format(x='c_acctbal')})::BIGINT AS acctbal_cents
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q06_latest_event": """
            SELECT user_id, event_id, epoch_us(ts)::BIGINT AS ts_us
            FROM events
            QUALIFY row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) = 1
        """,
        "q07_sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                          ) > 1800000000 OR lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                          ) IS NULL
                     THEN 1 ELSE 0 END AS ns
              FROM events
            )
            SELECT user_id, count(*)::BIGINT AS n_events,
                   sum(ns)::BIGINT AS n_sessions
            FROM g GROUP BY user_id
        """,
        "q08_hourly_window": f"""
            SELECT epoch_us(date_trunc('hour', ts))::BIGINT AS hour_us,
                   event_type, count(*)::BIGINT AS n,
                   sum({_CENTS.format(x='value')})::BIGINT AS value_cents
            FROM events
            GROUP BY 1, 2
        """,
        "q09_running_value": f"""
            SELECT user_id, event_id,
                   sum({_CENTS.format(x='value')}) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS cum_cents
            FROM events
        """,
        "f01_frontier_schedule": f"""
            WITH c AS (
              SELECT {_CAND_HOST_SQL} AS url_host, event_id AS seq FROM events
            ), r AS (
              SELECT url_host, seq,
                     row_number() OVER (
                       PARTITION BY url_host ORDER BY seq DESC
                     )::BIGINT AS host_rank
              FROM c
            )
            SELECT url_host, seq, host_rank,
                   floor((host_rank - 1) / 2) * 5.0 AS fetch_ts
            FROM r
        """,
        # f46: publisher-declared recrawl — the same closed-form
        # entry fields re-derived without the XML round-trip (which
        # is the Spark side's parser exercise), then the protocol's
        # interval map + date arithmetic
        "f46_sitemap_recrawl": """
            WITH e AS (
              SELECT doc_id,
                     'http://h' || (doc_id % 7)
                       || '.docs.example.com/d/' || doc_id AS url,
                     'h' || (doc_id % 7) || '.docs.example.com'
                       AS url_host,
                     CASE WHEN doc_id % 5 = 0 THEN NULL
                          ELSE '2024-01-' || lpad(
                            (1 + doc_id % 28)::VARCHAR, 2, '0')
                     END AS lastmod,
                     CASE doc_id % 4
                       WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                       WHEN 2 THEN 'never' END AS changefreq
              FROM documents
            ), c AS (
              SELECT url, url_host, changefreq, lastmod,
                     CASE WHEN changefreq = 'never' THEN NULL
                          WHEN changefreq = 'daily' THEN 1
                          WHEN changefreq = 'weekly' THEN 7
                          ELSE 7 END::INT AS interval_days
              FROM e
            )
            SELECT url, url_host, changefreq, lastmod, interval_days,
                   (lastmod::DATE
                    + (interval_days || ' days')::INTERVAL)::DATE
                     AS next_due,
                   (CASE WHEN changefreq = 'never' THEN FALSE
                         WHEN lastmod IS NULL THEN TRUE
                         ELSE lastmod::DATE
                              + (interval_days || ' days')::INTERVAL
                              <= '2024-01-20'::DATE
                    END)::INT AS due
            FROM c
        """,
        # t47: release-audit funnel — p01's component CTEs verbatim,
        # three 1-row aggregates unioned
        "t47_pipeline_funnel": f"""
            WITH s AS (
              SELECT doc_id, text, {_TOKS} AS toks FROM documents
            ), m AS (
              SELECT doc_id, text,{_GOPHER_M_COLS}
              FROM s
            ), g AS (
              SELECT *, {_GOPHER_DUP_SQL} AS dup_frac FROM m
            ), p AS (
              SELECT * FROM g WHERE {_GOPHER_PASS_SQL}
            ), k AS (
              SELECT *, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
              ) AS rn FROM p
            )
            SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs,
                   sum(token_cnt)::BIGINT AS n_tokens FROM g
            UNION ALL
            SELECT '2_gated', count(*)::BIGINT,
                   sum(token_cnt)::BIGINT FROM p
            UNION ALL
            SELECT '3_deduped', count(*)::BIGINT,
                   sum(token_cnt)::BIGINT FROM k WHERE rn = 1
        """,
        # f45: aged per-host budget — same synthesized priorities and
        # enqueue rounds; keep each host's best 3 by AGED order
        "f45_aged_budget": f"""
            WITH c AS (
              SELECT {_CAND_HOST_SQL} AS url_host, event_id AS seq
              FROM events
            ), q AS (
              SELECT url_host, seq,
                     CASE WHEN seq % 4 = 0 THEN 2 ELSE 0 END
                       AS priority,
                     seq % 9 AS enq
              FROM c
            ), a AS (
              SELECT url_host, seq,
                     (priority
                      + floor((10 - enq) * 1.0))::BIGINT
                       AS aged_priority
              FROM q
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY url_host
                ORDER BY aged_priority DESC, seq DESC) AS rn
              FROM a
            )
            SELECT url_host, seq, aged_priority FROM r WHERE rn <= 3
        """,
        # f44: politeness audit — f01's schedule as the fetch log,
        # plus the same planted violations; waves = identical-ts
        # groups, gaps via lag over the per-host wave table
        "f44_politeness_audit": f"""
            WITH c AS (
              SELECT {_CAND_HOST_SQL} AS url_host, event_id AS seq
              FROM events
            ), r AS (
              SELECT url_host,
                     row_number() OVER (
                       PARTITION BY url_host ORDER BY seq DESC
                     )::BIGINT AS host_rank
              FROM c
            ), log AS (
              SELECT url_host,
                     floor((host_rank - 1) / 2) * 5.0 AS fetch_ts
              FROM r
              UNION ALL
              SELECT * FROM (VALUES
                ('h0.example.com', 2.5), ('h7.example.com', 2.5),
                ('h3.example.com', 0.0), ('h3.example.com', 0.0),
                ('h3.example.com', 0.0)) v(url_host, fetch_ts)
            ), waves AS (
              SELECT url_host, fetch_ts AS ts,
                     count(*)::BIGINT AS wave
              FROM log GROUP BY 1, 2
            ), gaps AS (
              SELECT url_host, wave,
                     ts - lag(ts) OVER (
                       PARTITION BY url_host ORDER BY ts) AS gap
              FROM waves
            )
            SELECT url_host, sum(wave)::BIGINT AS n_fetches,
                   count(*)::BIGINT AS n_waves,
                   max(wave)::BIGINT AS max_wave,
                   round(min(gap), 6) AS min_gap,
                   sum(CASE WHEN wave > 2 THEN 1 ELSE 0 END)::BIGINT
                     AS wave_violations,
                   sum(CASE WHEN gap < 5.0 THEN 1 ELSE 0 END)::BIGINT
                     AS gap_violations,
                   (sum(CASE WHEN wave > 2 THEN 1 ELSE 0 END) = 0
                    AND sum(CASE WHEN gap < 5.0 THEN 1 ELSE 0 END) = 0
                   )::INT AS ok
            FROM gaps GROUP BY url_host
        """,
        # f43: Mercator content-seen — first owner of each checksum
        # in fetch order; every later URL carrying the same bytes is
        # flagged
        "f43_content_seen": """
            SELECT doc_id, md5(text) AS content_fp,
                   row_number() OVER (
                     PARTITION BY md5(text) ORDER BY doc_id
                   ) > 1 AS content_dup
            FROM documents
        """,
        # f42: per-IP politeness — f01's arithmetic keyed on the
        # md5-derived resolution slot instead of the host
        "f42_ip_schedule": f"""
            WITH c AS (
              SELECT {_CAND_HOST_SQL} AS url_host, event_id AS seq
              FROM events
            ), m AS (
              SELECT url_host, seq,
                     'ip-' || substr(md5(url_host), 1, 1) AS ip
              FROM c
            ), r AS (
              SELECT ip, url_host, seq,
                     row_number() OVER (
                       PARTITION BY ip ORDER BY seq DESC
                     )::BIGINT AS ip_rank
              FROM m
            )
            SELECT ip, url_host, seq, ip_rank,
                   floor((ip_rank - 1) / 2) * 5.0 AS fetch_ts
            FROM r
        """,
        "f02_frontier_seen": f"""
            WITH c AS (
              SELECT {_CAND_URL_SQL} AS url, event_id AS seq FROM events
            )
            SELECT url, seq FROM c
            QUALIFY row_number() OVER (PARTITION BY url ORDER BY seq) = 1
        """,
        "f03_frontier_robots": f"""
            WITH c AS (
              SELECT {_CAND_HOST_SQL} AS url_host,
                     '/p/' || (event_id % 97) AS path
              FROM events
            )
            SELECT url_host, count(*)::BIGINT AS n_allowed
            FROM c
            WHERE NOT (url_host IN ({_ROBOTS_HOSTS})
                       AND starts_with(path, '/p/1'))
            GROUP BY url_host
        """,
        # f04_crawl_records: extraction UDF — non-SQL-expressible
        # (rows-only check).
        "t01_text_tokens": f"""
            SELECT doc_id,
                   len({_TOKS})::BIGINT AS token_cnt,
                   len(list_distinct({_TOKS}))::BIGINT AS distinct_cnt,
                   list_reduce(list_prepend(0::BIGINT,
                     list_transform({_TOKS}, t -> length(t)::BIGINT)),
                     (a, b) -> a + b)::BIGINT AS char_cnt
            FROM documents
        """,
        "t02_text_langid": f"""
            SELECT doc_id,
                   len(list_filter({_TOKS},
                     t -> list_contains({_STOPWORDS_SQL}, t)))::BIGINT AS en_hits,
                   len({_TOKS})::BIGINT AS token_cnt,
                   CASE WHEN len(list_filter({_TOKS},
                     t -> list_contains({_STOPWORDS_SQL}, t)))::DOUBLE
                     / len({_TOKS})::DOUBLE >= 0.04
                   THEN 'en' ELSE 'und' END AS guessed_lang
            FROM documents
        """,
        "t03_text_quality": f"""
            WITH s AS (
              SELECT doc_id,
                     len({_TOKS})::DOUBLE AS n,
                     len(list_distinct({_TOKS}))::DOUBLE AS d,
                     list_reduce(list_prepend(0::BIGINT,
                       list_transform({_TOKS}, t -> length(t)::BIGINT)),
                       (a, b) -> a + b)::DOUBLE AS chars
              FROM documents
            )
            SELECT doc_id, n::BIGINT AS token_cnt,
                   round(d / n, 9) AS ttr,
                   round(0.5 * least(1.0, n / 64.0)
                         + 0.3 * (d / n)
                         + 0.2 * least(1.0, (chars / n) / 8.0), 9) AS quality
            FROM s
        """,
        "t05_text_langid_multi": f"""
            WITH r AS (
              SELECT doc_id,
                     len({_TOKS})::BIGINT AS token_cnt,
                     {_LANG_RATIO_SQL['de'].format(toks=_TOKS)} AS r_de,
                     {_LANG_RATIO_SQL['en'].format(toks=_TOKS)} AS r_en,
                     {_LANG_RATIO_SQL['es'].format(toks=_TOKS)} AS r_es,
                     {_LANG_RATIO_SQL['fr'].format(toks=_TOKS)} AS r_fr
              FROM documents
            )
            SELECT doc_id, token_cnt,
                   round(r_de, 9) AS ratio_de,
                   round(r_en, 9) AS ratio_en,
                   round(r_es, 9) AS ratio_es,
                   round(r_fr, 9) AS ratio_fr,
                   CASE
                     WHEN greatest(r_de, r_en, r_es, r_fr) < 0.04 THEN 'und'
                     WHEN r_de = greatest(r_de, r_en, r_es, r_fr) THEN 'de'
                     WHEN r_en = greatest(r_de, r_en, r_es, r_fr) THEN 'en'
                     WHEN r_es = greatest(r_de, r_en, r_es, r_fr) THEN 'es'
                     ELSE 'fr'
                   END AS guessed_lang
            FROM r
        """,
        "t04_text_fingerprint": f"""
            SELECT doc_id,
                   list_reduce(list_prepend(0::BIGINT,
                     list_transform({_TOKS},
                       t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)),
                     (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
            FROM documents
        """,
        "d01_dedup_exact": """
            SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_docs,
                   min(doc_id)::BIGINT AS keep_id
            FROM documents GROUP BY md5(text)
        """,
        "d02_dedup_jaccard": _JACCARD_SQL,
        # d03_dedup_minhash verifies candidates with the same exact
        # Jaccard measure; LSH recall at s>=0.8 (r=4, b=32) is
        # 1 - 4.6e-8, so the exact-pairs oracle is the correct check.
        "d03_dedup_minhash": _JACCARD_SQL,
        "d04_dedup_simhash": _SIMHASH_SQL,
        "d05_dedup_jaccard_capped": _JACCARD_CAPPED_SQL,
        "d14_containment": _CONTAINMENT_SQL,
        # d15: SemDeDup mirror — same planted x2 twins (exact in IEEE
        # floats), same seed rule / argmax-cosine assignment (QUALIFY
        # row_number is the window mirror of Spark's max-struct
        # partial agg), same keep order (ccos ASC, id ASC) and
        # upper-triangular over-threshold drop rule; the shared _DOT
        # fold keeps every cosine bit-identical cross-engine; the
        # pts→drp chain is a module helper shared with p20
        "d15_semantic_dedup": f"""
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 100000,
                     list_transform(embedding, x -> (x * 2)::FLOAT)
              FROM embeddings WHERE vec_id % 10 = 0
            ), {_semdedup_ctes('base')}
            SELECT vec_id, cluster, round(ccos, 9) AS ccos,
                   (vec_id NOT IN (SELECT vec_id FROM drp))::INT
                     AS kept
            FROM (
              SELECT vec_id, cluster, ccos FROM pts2
              UNION ALL
              SELECT vec_id, -1::BIGINT, -2.0 FROM pts
              WHERE NOT (n > 0)
            )
            ORDER BY vec_id
        """,
        "s01_ann_topk": f"""
            WITH q AS (
              SELECT vec_id AS qid, embedding AS qv FROM embeddings
              WHERE vec_id % 50 = 0
            ), c AS (
              SELECT vec_id AS nid, embedding AS cv FROM embeddings
            ), s AS (
              SELECT qid, nid, {_COS} AS cos
              FROM q, c WHERE nid != qid
            )
            SELECT qid AS query_id, nid AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY qid ORDER BY cos DESC, nid ASC
                   )::BIGINT AS rank
            FROM s
            QUALIFY row_number() OVER (
              PARTITION BY qid ORDER BY cos DESC, nid ASC
            ) <= 10
        """,
        # s02_ann_lsh: SRP-bucketed approximate — recall < 1 by design
        # (rows-only check).
        # s06: SQ8 int8 quantization replayed exactly — scale = max|x|
        # (cancels in cosine), round-half-up via explicit floor(+0.5)
        # (DuckDB's double→int cast ROUNDS, Spark's truncates — floor
        # is the one portable spelling), integer dot / integer norms,
        # -2.0 sentinel for zero-norm codes
        "s06_ann_int8": """
            WITH sc AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(x::DOUBLE))) AS s
              FROM embeddings
            ), q8 AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CASE WHEN s = 0 THEN 0
                            ELSE greatest(-127, least(127,
                              floor(x::DOUBLE / s * 127 + 0.5)))::BIGINT
                            END) AS qc
              FROM sc
            ), n AS (
              SELECT vec_id, qc,
                     list_reduce(list_prepend(0::BIGINT,
                       list_transform(range(1, 65),
                         i -> qc[i] * qc[i])), (x, y) -> x + y) AS n2
              FROM q8
            ), s AS (
              SELECT a.vec_id AS qid, b.vec_id AS nid,
                     CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN -2.0
                     ELSE list_reduce(list_prepend(0::BIGINT,
                            list_transform(range(1, 65),
                              i -> a.qc[i] * b.qc[i])),
                            (x, y) -> x + y)::DOUBLE
                          / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE))
                     END AS qcos
              FROM n a, n b
              WHERE a.vec_id % 50 = 0 AND b.vec_id != a.vec_id
            )
            SELECT qid AS query_id, nid AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY qid ORDER BY qcos DESC, nid ASC
                   )::BIGINT AS rank
            FROM s
            QUALIFY row_number() OVER (
              PARTITION BY qid ORDER BY qcos DESC, nid ASC
            ) <= 10
        """,
        "s03_emb_neardup": f"""
            WITH a AS (SELECT vec_id AS id_a, embedding AS qv FROM embeddings),
                 b AS (SELECT vec_id AS id_b, embedding AS cv FROM embeddings)
            SELECT id_a, id_b, round({_COS}, 9) AS cosine
            FROM a, b
            WHERE id_a < id_b AND {_COS} >= 0.45
        """,
        # s04_emb_neardup_lsh: banded-SRP approximate — recall < 1 by
        # design (rows-only check; subset-of-s03 asserted in pytest).
        "m01_multimodal_meta": """
            SELECT doc_id,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   (16 + octet_length(encode(text)) % 624)::INT AS width,
                   (16 + (octet_length(encode(text)) * 7) % 464)::INT AS height,
                   3::INT AS channels
            FROM documents
        """,
        "m02_media_resize": """
            WITH m AS (
              SELECT doc_id,
                     (16 + octet_length(encode(text)) % 624)::INT AS width,
                     (16 + (octet_length(encode(text)) * 7) % 464)::INT AS height
              FROM documents
            )
            SELECT doc_id, width, height,
                   greatest(1, (width::BIGINT * 224)
                               // greatest(width, height))::BIGINT AS out_width,
                   greatest(1, (height::BIGINT * 224)
                               // greatest(width, height))::BIGINT AS out_height
            FROM m
        """,
        "m03_media_frames": """
            WITH m AS (
              SELECT doc_id, octet_length(encode(text))::BIGINT AS n
              FROM documents
              WHERE octet_length(encode(text)) > 0
            ), s AS (
              SELECT doc_id, n, greatest(1, n // 4)::BIGINT AS stride FROM m
            )
            SELECT doc_id, i::BIGINT AS frame_id,
                   (i * stride)::BIGINT AS offset,
                   least(stride, n - i * stride)::BIGINT AS frame_len
            FROM s, unnest(range(0, 4)) AS r(i)
            WHERE i * stride < n
        """,
        # q10: correlated-subquery formulation (deterministic tie-break
        # by event_id, matching asof_join's right_seq) — the Spark side
        # is the single-shuffle union+window plan, not a subquery.
        "q10_asof_join": """
            SELECT v.event_id,
                   epoch_us(v.ts)::BIGINT AS ts_us,
                   v.user_id, v.value,
                   (SELECT p.event_id FROM events p
                     WHERE p.event_type = 'purchase'
                       AND p.user_id = v.user_id AND p.ts <= v.ts
                     ORDER BY p.ts DESC, p.event_id DESC
                     LIMIT 1) AS asof_event_id,
                   (SELECT p.value FROM events p
                     WHERE p.event_type = 'purchase'
                       AND p.user_id = v.user_id AND p.ts <= v.ts
                     ORDER BY p.ts DESC, p.event_id DESC
                     LIMIT 1) AS asof_value
            FROM events v
            WHERE v.event_type = 'view'
        """,
        # q11: interval-join mirror — DuckDB runs the theta join
        # directly; the Spark side must reach the same multi-match set
        # through the bucketized equi-join
        "q11_range_join": """
            SELECT e.event_id, e.v, n.tier, n.lo, n.hi
            FROM (SELECT event_id,
                         (event_id % 1200)::BIGINT AS v FROM events) e
            JOIN (SELECT n_nationkey::BIGINT AS tier,
                         (n_nationkey * 40)::BIGINT AS lo,
                         (n_nationkey * 40 + 40
                          + (n_nationkey % 3) * 20)::BIGINT AS hi
                  FROM nation) n
              ON e.v >= n.lo AND e.v < n.hi
            ORDER BY e.event_id, n.tier
        """,
        # d06: connected components of the exact near-dup pair graph
        # (same pair SQL as d02/d03) via recursive transitive closure;
        # every document gets its component-min representative.
        "d06_dedup_clusters": _CLUSTERS_SQL,
        "t06_corpus_stats": f"""
            WITH per AS (
              SELECT source, lang, len({_TOKS})::BIGINT AS toks,
                     length(text)::BIGINT AS chars
              FROM documents
            )
            SELECT source, lang, count(*)::BIGINT AS n_docs,
                   sum(toks)::BIGINT AS total_tokens,
                   sum(chars)::BIGINT AS total_chars,
                   min(toks)::BIGINT AS min_tokens,
                   max(toks)::BIGINT AS max_tokens,
                   round(sum(toks)::DOUBLE / count(*)::DOUBLE, 9) AS avg_tokens
            FROM per GROUP BY source, lang
        """,
        # t07: the deterministic hash-threshold sample — identical md5
        # hex-prefix predicate in both engines (rates: en .75, de .25,
        # default .1, quantized to /65536)
        "t07_sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':s42'), 1, 4))::BIGINT <
              CASE lang WHEN 'en' THEN 49152 WHEN 'de' THEN 16384
                        ELSE 6553 END
        """,
        # t08: top-5 bigrams per language; ties break by ngram asc —
        # the same deterministic ordering the Spark window uses
        "t08_top_ngrams": f"""
            WITH toks AS (
              SELECT lang, {_TOKS} AS t FROM documents
            ), grams AS (
              SELECT lang, t[i] || ' ' || t[i+1] AS ngram
              FROM toks, unnest(range(1, len(t))) AS r(i)
              WHERE len(t) >= 2
            ), counts AS (
              SELECT lang, ngram, count(*)::BIGINT AS n_occurrences
              FROM grams GROUP BY lang, ngram
            ), ranked AS (
              SELECT lang, ngram, n_occurrences,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY n_occurrences DESC, ngram ASC
                     )::BIGINT AS rank
              FROM counts
            )
            SELECT lang, ngram, n_occurrences, rank
            FROM ranked WHERE rank <= 5
        """,
        # t09: Gopher filter signals — same token contract, same
        # bigram construction, thresholds compared in the same order
        "t09_text_gopher": f"""
            WITH s AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), m AS (
              SELECT doc_id,{_GOPHER_M_COLS}
              FROM s
            ), g AS (
              SELECT doc_id, token_cnt, chars, alpha, stop_cnt, sym,
                     {_GOPHER_DUP_SQL} AS dup_frac
              FROM m
            )
            SELECT doc_id, token_cnt,
                   round(chars / token_cnt, 9) AS mean_word_len,
                   round(alpha / token_cnt, 9) AS alpha_frac,
                   stop_cnt AS stopword_cnt,
                   round(sym / token_cnt, 9) AS symbol_ratio,
                   round(dup_frac, 9) AS dup_bigram_frac,
                   (CASE WHEN {_GOPHER_PASS_SQL}
                    THEN 1 ELSE 0 END)::INTEGER AS passes
            FROM g
        """,
        # p01: the end-to-end clean-corpus pipeline — Gopher gate,
        # exact dedup keeping the smallest doc_id per content hash,
        # stopword-ratio language guess, rolling-hash fingerprint
        "p01_clean_corpus": _P01_SQL,
        # d07: position-level corpus-duplicated span fraction — every
        # 3-token span (non-distinct, one per token position) counted
        # corpus-wide; span duplicated when total occurrences >= 2
        "d07_span_dupfrac": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), sp AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), freq AS (
              SELECT s, count(*) AS f FROM sp GROUP BY s
            ), per AS (
              SELECT sp.doc_id, count(*)::BIGINT AS span_cnt,
                     sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END)::BIGINT
                       AS dup_spans
              FROM sp JOIN freq USING (s) GROUP BY sp.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.span_cnt, 0)::BIGINT AS span_cnt,
                   COALESCE(per.dup_spans, 0)::BIGINT AS dup_spans,
                   CASE WHEN COALESCE(per.span_cnt, 0) > 0
                        THEN round(per.dup_spans::DOUBLE
                                   / per.span_cnt::DOUBLE, 9)
                        ELSE 0.0 END AS dup_frac
            FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        """,
        # d08: d07 under the stop-span cap — spans with corpus
        # occurrence count > 4 leave the universe (both counts)
        "d08_span_dupfrac_capped": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), sp AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), freq AS (
              SELECT s, count(*) AS f FROM sp GROUP BY s
            ), kept AS (
              SELECT s, f FROM freq WHERE f <= 4
            ), per AS (
              SELECT sp.doc_id, count(k.f)::BIGINT AS span_cnt,
                     sum(CASE WHEN k.f >= 2 THEN 1 ELSE 0 END)::BIGINT
                       AS dup_spans
              FROM sp LEFT JOIN kept k ON k.s = sp.s
              GROUP BY sp.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.span_cnt, 0)::BIGINT AS span_cnt,
                   COALESCE(per.dup_spans, 0)::BIGINT AS dup_spans,
                   CASE WHEN COALESCE(per.span_cnt, 0) > 0
                        THEN round(per.dup_spans::DOUBLE
                                   / per.span_cnt::DOUBLE, 9)
                        ELSE 0.0 END AS dup_frac
            FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        """,
        # p02: packed-sequence layout — exclusive global running token
        # count in doc_id order cut into capacity-512 sequences (the
        # Spark side computes the same prefix two-phase, no global
        # window)
        "p02_pack_sequences": f"""
            WITH s AS (
              SELECT doc_id, len({_TOKS})::BIGINT AS token_cnt
              FROM documents
            ), c AS (
              SELECT doc_id, token_cnt,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM s
            )
            SELECT doc_id, token_cnt,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """,
        # p25: curriculum packing — t12's score CTEs verbatim, the
        # p02 cumsum arithmetic over (cls_score DESC, doc_id): the
        # ROUNDED score orders, so ordering cannot drift cross-engine
        "p25_curriculum_pack": (
            "WITH " + _CLS_SCORE_CTES + """, c AS (
              SELECT doc_id, token_cnt, cls_score,
                     COALESCE(SUM(token_cnt) OVER (
                       ORDER BY cls_score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM clsm
            )
            SELECT doc_id, token_cnt, cls_score,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """),
        # p24: packing budgeted in SUBWORD tokens — p02's cumsum
        # arithmetic with t46's counter as the stream (shared
        # _SUBWORD_* constants; real pretraining layouts budget in
        # LLM tokens, not words)
        "p24_subword_pack": f"""
            WITH s AS (
              SELECT doc_id,
                     len({_SUBWORD_NW_SQL})::BIGINT AS token_cnt
              FROM documents
            ), c AS (
              SELECT doc_id, token_cnt,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM s
            )
            SELECT doc_id, token_cnt,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """,
        # t10: mean unigram log-likelihood under the corpus's own
        # token distribution (rounded to 6: ln is libm-dependent in
        # the last double digits, unlike the exact-arithmetic
        # signals)
        "t10_unigram_logprob": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), freq AS (
              SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
            ), tot AS (
              SELECT sum(cnt)::DOUBLE AS total FROM freq
            )
            SELECT doc_id, count(*)::BIGINT AS token_cnt,
                   round(avg(ln(cnt::DOUBLE / total)), 6)
                     AS mean_logprob
            FROM toks JOIN freq USING (tok), tot
            GROUP BY doc_id
        """,
        # p04: the flagship composition — p01's gate+exact-dedup
        # survivors, minus near-dup cluster non-minima (exact-Jaccard
        # pairs over the SURVIVOR subset + recursive-CTE connected
        # components, mirroring d02/d06), laid out as packed
        # sequences (p02's running count over the kept set)
        "p04_clean_full": (
            f"WITH RECURSIVE cleaned AS ({_P01_SQL}),"
            + _CLEAN_FULL_TAIL_SQL.format(toks=_TOKS)
        ),
        # t12: model-based quality classifier — logistic score of a
        # hashed-token-feature linear model, same left fold + weight
        # literal + portable md5 bucket hash on both engines; rounded
        # to 6 (exp is libm-dependent), verdict compares the ROUNDED
        # score so it is bit-identical
        "t12_classifier_score": (
            "WITH " + _CLS_SCORE_CTES + """
            SELECT doc_id, token_cnt, cls_score,
                   cls_score >= 0.5 AS cls_pass
            FROM clsm
        """),
        # t13: PII scrubbing — same deterministic contact-line
        # augmentation as the Spark wrapper, then identical
        # RE2∩Java-subset patterns count and mask (email → IP →
        # phone chain; masked text hash-matches)
        "t13_pii_scrub": f"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact u' || doc_id::VARCHAR ||
                     '@example.org from ' ||
                     (doc_id % 223 + 1)::VARCHAR || '.0.0.' ||
                     (doc_id % 251 + 1)::VARCHAR ||
                     ' tel +1 (555) 010-' ||
                     (doc_id % 10000)::VARCHAR AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '{textops.PII_EMAIL_RE}'))::BIGINT AS email_cnt,
                   len(regexp_extract_all(text,
                     '{textops.PII_IPV4_RE}'))::BIGINT AS ipv4_cnt,
                   len(regexp_extract_all(text,
                     '{textops.PII_PHONE_RE}'))::BIGINT AS phone_cnt,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '{textops.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{textops.PII_IPV4_RE}', '<IP>', 'g'),
                     '{textops.PII_PHONE_RE}', '<PHONE>', 'g'
                   ) AS masked_text
            FROM aug
        """,
        # t14: within-doc duplicate-line removal — tokens become
        # lines via the same translate; first occurrence survives
        # (list_position = own 1-based index, order-preserving)
        "t14_dedup_lines": """
            WITH s AS (
              SELECT doc_id,
                     string_split(replace(text, ' ', chr(10)), chr(10))
                       AS ls
              FROM documents
            ), k AS (
              SELECT doc_id, ls,
                     list_filter(ls,
                       (x, i) -> list_position(ls, x) = i) AS kept
              FROM s
            )
            SELECT doc_id,
                   len(ls)::BIGINT AS line_cnt,
                   (len(ls) - len(kept))::BIGINT AS removed_cnt,
                   array_to_string(kept, chr(10)) AS cleaned_text
            FROM k
        """,
        # t11: benchmark-decontamination signal — distinct 13-gram
        # containment of every document against the held-out slice
        # (doc_id % 7 = 2 stands in for the eval table; the Spark
        # side applies the same rule)
        "t11_benchmark_contamination": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), bench AS (
              SELECT DISTINCT {_G13} AS g
              FROM toks, {_G13_RANGE}
              WHERE len(t) >= 13 AND {_BENCH_RULE}
            ), dg AS (
              SELECT DISTINCT doc_id, {_G13} AS g
              FROM toks, {_G13_RANGE}
              WHERE len(t) >= 13
            ), per AS (
              SELECT dg.doc_id, count(*)::BIGINT AS gram_cnt,
                     sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0
                         END)::BIGINT AS hit_cnt
              FROM dg LEFT JOIN bench b ON b.g = dg.g
              GROUP BY dg.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.gram_cnt, 0)::BIGINT AS gram_cnt,
                   COALESCE(per.hit_cnt, 0)::BIGINT AS hit_cnt,
                   CASE WHEN COALESCE(per.gram_cnt, 0) > 0
                        THEN round(per.hit_cnt::DOUBLE
                                   / per.gram_cnt::DOUBLE, 9)
                        ELSE 0.0 END AS containment,
                   COALESCE(per.hit_cnt, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        """,
        # p05: p04 with the decontamination stage enabled — gate +
        # exact-dedup survivors sharing any 13-gram with the
        # held-out slice are dropped BEFORE near-dup clustering,
        # then the same cluster-removal + packed-layout tail
        "p05_clean_decontaminated": (
            _P05_PREFIX_SQL + _CLEAN_FULL_TAIL_SQL.format(toks=_TOKS)
        ),
        # p08: decontamination AND duplicate-span removal composed —
        # the p05 prefix (gate + dedup + drop contaminated), the
        # shared kept-set tail, the span-rewrite CTEs, the shared
        # packing tail; every piece is byte-shared with p04/p05/p06
        "p08_clean_decontam_rewritten": (
            _P05_PREFIX_SQL
            + _CLEAN_FULL_KEPT_SQL.format(toks=_TOKS)
            + _SPAN_RW_SQL
            + _PACK_TAIL_SQL.format(src="rw", extra=" removed_cnt,")
        ),
        # p03: the full composition — clean the corpus (p01 body)
        # then lay the survivors out as packed training sequences
        # (p02's exclusive running token count over the CLEANED set)
        "p03_pack_clean_corpus": f"""
            WITH cleaned AS ({_P01_SQL}),
            c AS (
              SELECT *,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM cleaned
            )
            SELECT doc_id, guessed_lang, token_cnt, fingerprint,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """,
        # d09: duplicate-span removal — every token covered by a
        # corpus-duplicated 3-token span (position-level, freq >= 2,
        # the d07 rule) is cut; relational formulation: flagged
        # starts expand to covered 1-based positions, survivors
        # rebuild in order via string_agg
        "d09_span_rewrite": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), sp AS (
              SELECT doc_id, i AS st,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), freq AS (
              SELECT s, count(*) AS f FROM sp GROUP BY s
            ), cov AS (
              SELECT DISTINCT sp.doc_id, sp.st + o.o AS i
              FROM sp JOIN freq USING (s), unnest(range(0, 3)) AS o(o)
              WHERE f >= 2
            ), tokpos AS (
              SELECT doc_id, i, t[i] AS tok
              FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
            ), keptt AS (
              SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
              LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.i = tp.i
              WHERE cov.i IS NULL
            ), agg AS (
              SELECT doc_id, count(*)::BIGINT AS kept_n,
                     string_agg(tok, ' ' ORDER BY i) AS txt
              FROM keptt GROUP BY doc_id
            )
            SELECT tk.doc_id, len(t)::BIGINT AS token_cnt,
                   (len(t) - COALESCE(kept_n, 0))::BIGINT AS removed_cnt,
                   COALESCE(agg.txt, '') AS cleaned_text
            FROM toks tk LEFT JOIN agg USING (doc_id)
        """,
        # t15: per-(source, lang) rate-table mixing — same md5
        # threshold predicate rendered from the same Python table
        "t15_mix_sample": f"""
            SELECT doc_id, source, lang FROM documents
            WHERE {_MIX_PRED_SQL}
        """,
        # t16: Naive-Bayes training over the t12 hashed buckets —
        # per-bucket class token counts (Laplace alpha=1, B=1024),
        # log-odds rounded to 6 (ln is libm-dependent, t10 contract)
        "t16_classifier_train": f"""
            WITH toks AS (
              SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                       AS y,
                     unnest({_TOKS}) AS tok
              FROM documents
            ), b AS (
              SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT
                       % {_CLS_N} AS bucket, y
              FROM toks
            ), pb AS (
              SELECT bucket, sum(y)::BIGINT AS n_pos,
                     sum(1 - y)::BIGINT AS n_neg
              FROM b GROUP BY bucket
            ), tot AS (
              SELECT sum(y)::BIGINT AS t1, sum(1 - y)::BIGINT AS t0
              FROM b
            ), spine AS (
              SELECT unnest(range({_CLS_N})) AS bucket
            )
            SELECT spine.bucket,
                   COALESCE(n_pos, 0)::BIGINT AS n_pos,
                   COALESCE(n_neg, 0)::BIGINT AS n_neg,
                   round(ln((COALESCE(n_pos, 0) + 1.0)
                            / (t1 + {_CLS_N}.0))
                         - ln((COALESCE(n_neg, 0) + 1.0)
                              / (t0 + {_CLS_N}.0)), 6) AS weight
            FROM spine LEFT JOIN pb USING (bucket), tot
        """,
        # t17: exact integer-quota mixing — first quota docs of each
        # lang shard in md5 order (id tie-break); the window mirror of
        # the Spark side's skew-safe two-phase rank
        "t17_mix_quota": f"""
            WITH r AS (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(doc_id::VARCHAR || ':{_MIX_SALT}'),
                                doc_id
                     ) AS rk
              FROM documents
            )
            SELECT doc_id, lang, source FROM r
            WHERE rk <= {_MIX_QUOTA_CASE_SQL}
        """,
        # p07: mix → pack — the t15 predicate feeds p02's packed
        # layout (running token count over the mixed set)
        "p07_mix_pack": f"""
            WITH mixed AS (
              SELECT doc_id, len({_TOKS})::BIGINT AS token_cnt
              FROM documents
              WHERE {_MIX_PRED_SQL}
            ), c AS (
              SELECT doc_id, token_cnt,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM mixed
            )
            SELECT doc_id, token_cnt,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """,
        # p06: p04 + duplicate-span removal over the final kept set —
        # the span-rewrite CTEs slot between the shared kept-set tail
        # and the shared packing tail, so the three pipeline mirrors
        # cannot drift
        "p06_clean_span_rewritten": (
            f"WITH RECURSIVE cleaned AS ({_P01_SQL}),"
            + _CLEAN_FULL_KEPT_SQL.format(toks=_TOKS)
            + _SPAN_RW_SQL
            + _PACK_TAIL_SQL.format(src="rw", extra=" removed_cnt,")
        ),
        # d10: cross-document line dedup — corpus-wide first
        # occurrence (min of the encoded doc/line key) wins; same
        # 4-token re-chunk as the Spark wrapper; blank lines exempt
        # (min_line_len = 1)
        "d10_dedup_lines_global": "WITH " + _D10_CTES + """
            SELECT doc_id,
                   count(*)::BIGINT AS line_cnt,
                   sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT
                     AS removed_cnt,
                   coalesce(string_agg(line, chr(10) ORDER BY i)
                              FILTER (WHERE keep), '') AS cleaned_text
            FROM kl GROUP BY doc_id
        """,
        # p22: the d10 duplicated-line signal as a DOC-DROP gate in
        # front of p01 — d10's CTE chain verbatim (the two mirrors
        # cannot drift), integer-exact 20% rule, then p01's body over
        # the surviving original documents (the p20 source-swap
        # pattern)
        "p22_clean_dupline": _P01_SQL_TMPL.format(extra_gate="")
        .replace("AS toks FROM documents", "AS toks FROM kept_dl", 1)
        .replace(
            "WITH s AS (",
            "WITH " + _D10_CTES + """, dl AS (
              SELECT doc_id, count(*)::BIGINT AS lc,
                     sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT
                       AS rm
              FROM kl GROUP BY doc_id
            ), kept_dl AS (
              SELECT d.doc_id, d.text
              FROM documents d JOIN dl USING (doc_id)
              WHERE dl.rm * 100 <= dl.lc * 20
            ), s AS (""",
            1,
        ),
        # t19: Gopher repetition battery — same 4-token re-chunk as
        # d10 for the line signals; bigram/5-gram coverage over the
        # unchanged token stream; thresholds compare the ROUNDED
        # signals in the same order as the Spark plan
        "t19_repetition": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), s AS (
              SELECT doc_id, t,
                     list_transform(range((len(t) + 3) // 4),
                       i -> array_to_string(t[i*4+1:i*4+4], ' ')) AS ls
              FROM toks
            ), g AS (
              SELECT doc_id, ls, t,
                CASE WHEN len(t) >= 2 THEN
                  list_transform(range(len(t) - 1),
                    i -> t[i+1] || ' ' || t[i+2]) ELSE [] END AS g2,
                CASE WHEN len(t) >= 5 THEN
                  list_transform(range(len(t) - 4),
                    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                         || ' ' || t[i+4] || ' ' || t[i+5])
                  ELSE [] END AS g5,
                COALESCE(list_sum(list_transform(ls,
                  x -> length(x))), 0) AS line_chars,
                COALESCE(list_sum(list_transform(t,
                  x -> length(x))), 0) AS tok_chars
              FROM s
            ), r AS (
              SELECT doc_id, ls, g2, g5, line_chars, tok_chars,
                list_filter(ls,
                  (x, i) -> list_position(ls, x) != i) AS rep_ls,
                list_filter(g5,
                  (x, i) -> list_position(g5, x) != i) AS rep_g5
              FROM g
            ), sig AS (
              SELECT doc_id,
                len(ls)::BIGINT AS line_cnt,
                round(len(rep_ls)::DOUBLE / len(ls), 9)
                  AS dup_line_frac,
                CASE WHEN line_chars > 0 THEN
                  round(COALESCE(list_sum(list_transform(rep_ls,
                    x -> length(x))), 0)::DOUBLE / line_chars, 9)
                  ELSE 0.0 END AS dup_line_char_frac,
                CASE WHEN len(g2) > 0 AND tok_chars > 0 THEN
                  round(list_max(list_transform(list_distinct(g2),
                    y -> len(list_filter(g2, x -> x = y))
                         * (length(y) - 1)))::DOUBLE / tok_chars, 9)
                  ELSE 0.0 END AS top_2gram_char_frac,
                CASE WHEN tok_chars > 0 THEN
                  round(COALESCE(list_sum(list_transform(rep_g5,
                    x -> length(x) - 4)), 0)::DOUBLE / tok_chars, 9)
                  ELSE 0.0 END AS dup_5gram_char_frac
              FROM r
            )
            SELECT doc_id, line_cnt, dup_line_frac,
                   dup_line_char_frac, top_2gram_char_frac,
                   dup_5gram_char_frac,
                   (dup_line_frac <= 0.30
                    AND dup_line_char_frac <= 0.20
                    AND top_2gram_char_frac <= 0.20
                    AND dup_5gram_char_frac <= 0.15)::INT AS passes
            FROM sig
        """,
        # t20: C4 line filter — shared construction + line-rule CTEs
        # (_C4_CTES), then the three line rules' counts and the page
        # verdict (>= 3 kept lines, no brace, no "lorem ipsum")
        "t20_c4_filter": "WITH " + _C4_CTES + f"""
            SELECT doc_id, len(ls)::BIGINT AS line_cnt,
                   len(kept)::BIGINT AS kept_cnt,
                   {_C4_PAGE_OK_SQL}::INT AS page_ok,
                   -- COALESCE: DuckDB array_to_string([]) is NULL
                   -- where Spark array_join([]) is '' (a zero-kept
                   -- page must clean to '' on both engines)
                   COALESCE(array_to_string(kept, chr(10)), '')
                     AS cleaned_text
            FROM c4k
        """,
        # p11: C4-filtered clean corpus — the shared C4 CTEs produce
        # the cleaned pages, page_ok survivors shadow `documents`,
        # and the p01 SQL body runs verbatim over them (same swap
        # pattern as p10, so the two pipeline mirrors cannot drift)
        # p23: line-format-gated clean corpus — p01's body over the
        # synthesized line-structured pages, with the t45 verdict as
        # an extra gate term (same swap pattern as p11)
        "p23_clean_gopherlines": _P01_SQL_TMPL.format(
            extra_gate=_P23_LINE_GATE
        ).replace(
            "WITH s AS (",
            "WITH " + _P23_CTES + ", s AS (",
            1,
        ).replace("AS toks FROM documents", "AS toks FROM p23_docs", 1),
        "p11_clean_c4": _P01_SQL_TMPL.format(extra_gate="").replace(
            "WITH s AS (",
            "WITH " + _C4_CTES + f""", c4_docs AS (
              SELECT doc_id,
                     array_to_string(kept, chr(10)) AS text
              FROM c4k WHERE {_C4_PAGE_OK_SQL}
            ), s AS (""",
            1,
        ).replace("AS toks FROM documents", "AS toks FROM c4_docs", 1),
        # t21: CCNet LM bucketing — t10's score mirror, the t07 md5
        # sample substrate (salt c42, 16384/65536), integer-ceil
        # boundary ranks over the sample per language, two COALESCEd
        # comparisons assign the bucket; ties attach upward on both
        # engines because the compared score is the rounded t10
        # value.  Shared verbatim with the p12 composition.
        "t21_ccnet_buckets": _CCNET_SQL,
        # p12: quality-mixed packed layout — t21's SQL verbatim as a
        # CTE (shared constant, cannot drift), tail bucket dropped,
        # head+middle packed with the p02 cumsum/offset arithmetic
        "p12_ccnet_pack": f"""
            WITH bkt AS ({_CCNET_SQL}
            ), kept AS (
              SELECT doc_id, lang, token_cnt, bucket FROM bkt
              WHERE bucket <= 2
            ), laid AS (
              SELECT *,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM kept
            )
            SELECT doc_id, lang, token_cnt, bucket,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM laid
        """,
        # f17: WARC round-trip — serialize documents into 16
        # multi-record members (same url/date construction and
        # ordered concat as the Spark wrapper), re-split on the
        # version line, recover headers + payload; length_ok pins
        # the declared Content-Length to the recovered payload
        "f17_warc_scan": """
            WITH d AS (
              SELECT doc_id, doc_id % 16 AS file_id,
                'https://h' || (doc_id % 13) || '.example.com/doc/'
                  || doc_id AS url,
                '2026-08-19T00:00:'
                  || lpad((doc_id % 60)::VARCHAR, 2, '0') || 'Z' AS dt,
                text
              FROM documents
            ), r AS (
              SELECT file_id, doc_id,
                'WARC/1.0' || chr(13) || chr(10)
                || 'WARC-Type: response' || chr(13) || chr(10)
                || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
                || 'WARC-Date: ' || dt || chr(13) || chr(10)
                || 'Content-Length: ' || length(text)
                || chr(13) || chr(10) || chr(13) || chr(10)
                || text || chr(13) || chr(10) || chr(13) || chr(10)
                  AS rec
              FROM d
            ), m AS (
              SELECT file_id, string_agg(rec, '' ORDER BY doc_id)
                       AS warc
              FROM r GROUP BY file_id
            ), x AS (
              SELECT file_id, u.rec FROM (
                SELECT file_id, unnest(string_split(warc,
                  'WARC/1.0' || chr(13) || chr(10))) AS rec
                FROM m) u
              WHERE u.rec != ''
            ), p AS (
              SELECT file_id, rec,
                strpos(rec, chr(13)||chr(10)||chr(13)||chr(10)) AS pos
              FROM x
            ), f AS (
              SELECT file_id,
                substr(rec, 1, pos - 1) AS headers,
                regexp_replace(substr(rec, pos + 4),
                  '\\r\\n\\r\\n$', '') AS payload
              FROM p
            )
            SELECT file_id,
              regexp_extract(headers, 'WARC-Type: ([^\\r\\n]*)', 1)
                AS warc_type,
              regexp_extract(headers,
                'WARC-Target-URI: ([^\\r\\n]*)', 1) AS target_uri,
              regexp_extract(headers, 'WARC-Date: ([^\\r\\n]*)', 1)
                AS warc_date,
              regexp_extract(headers,
                'Content-Length: ([^\\r\\n]*)', 1)::BIGINT
                AS content_length,
              payload,
              regexp_extract(headers,
                'Content-Length: ([^\\r\\n]*)', 1)::BIGINT
                = length(payload) AS length_ok
            FROM f
        """,
        # d11: incremental-dump dedup — same new/ref split + planted
        # exact dups as the Spark wrapper; exact via DISTINCT ref
        # md5 set, near via the d02 shingle measure joined NEW x REF
        # only; threshold compares unrounded like d02
        "d11_cross_corpus": f"""
            WITH newd AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents
              WHERE doc_id % 40 = 0
            ), refd AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
            ), tn AS (
              SELECT doc_id, {_TOKS} AS t FROM newd
            ), tr AS (
              SELECT doc_id, {_TOKS} AS t FROM refd
            ), shn AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM tn, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), shr AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM tr, unnest(range(1, len(t) - 1)) AS r(i)
              WHERE len(t) >= 3
            ), szn AS (
              SELECT doc_id, count(*) AS n FROM shn GROUP BY doc_id
            ), szr AS (
              SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS dn, b.doc_id AS dr,
                     count(*)::BIGINT AS ni
              FROM shn a JOIN shr b ON a.s = b.s GROUP BY 1, 2
            ), pairs AS (
              SELECT dn,
                     ni::DOUBLE / (szn.n + szr.n - ni)::DOUBLE AS j
              FROM inter
              JOIN szn ON szn.doc_id = dn
              JOIN szr ON szr.doc_id = dr
              WHERE ni::DOUBLE / (szn.n + szr.n - ni)::DOUBLE >= 0.8
            ), near AS (
              SELECT dn, count(*)::BIGINT AS near_cnt,
                     round(max(j), 9) AS max_jaccard
              FROM pairs GROUP BY dn
            ), rh AS (
              SELECT DISTINCT md5(text) AS h FROM refd
            )
            SELECT n.doc_id,
                   CASE WHEN rh.h IS NOT NULL THEN 1 ELSE 0 END
                     AS exact_dup,
                   COALESCE(near.near_cnt, 0)::BIGINT AS near_cnt,
                   COALESCE(near.max_jaccard, 0.0) AS max_jaccard,
                   (CASE WHEN rh.h IS NOT NULL THEN 1 ELSE 0 END = 0
                    AND near.near_cnt IS NULL)::INT AS keep
            FROM newd n
            LEFT JOIN rh ON rh.h = md5(n.text)
            LEFT JOIN near ON near.dn = n.doc_id
        """,
        # t22: punctuation normalization — same decorated input
        # (chr() construction), the same translate map rendered from
        # textops.PUNCT_SRC/PUNCT_DST, ellipsis replace, whitespace
        # collapse with the contract class
        "t22_normalize_punct": f"""
            WITH aug AS (
              SELECT doc_id,
                     chr(8220) || text || chr(8221) || '  '
                       || chr(8211) || chr(160) || 'done'
                       || chr(8230) || chr(12288) || 'ok ' AS text
              FROM documents
            ), n AS (
              SELECT doc_id, text,
                     regexp_replace(regexp_replace(
                       replace(translate(text,
                         '{textops.PUNCT_SRC.replace(chr(39), chr(39) * 2)}',
                         '{textops.PUNCT_DST.replace(chr(39), chr(39) * 2)}'),
                         chr(8230), '...'),
                       '^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$',
                       '', 'g'),
                       '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm_text
              FROM aug
            )
            SELECT doc_id, (norm_text != text)::INT AS changed,
                   norm_text
            FROM n
        """,
        # t23: long-document chunking — same window/stride integer
        # arithmetic; range(nc) is the 0-based chunk index on both
        # engines
        "t23_chunk_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), c AS (
              SELECT doc_id, t,
                     greatest(1, ceil((len(t) - 32)::DOUBLE
                                      / 24.0)::INT + 1) AS nc
              FROM toks
            ), e AS (
              SELECT doc_id, t, i
              FROM c, unnest(range(nc)) AS r(i)
            )
            SELECT doc_id, i::BIGINT AS chunk_idx,
                   (i * 24)::BIGINT AS chunk_start,
                   least(32, len(t) - i * 24)::BIGINT AS chunk_tokens,
                   array_to_string(t[i*24+1:i*24+32], ' ')
                     AS chunk_text
            FROM e
            WHERE least(32, len(t) - i * 24) >= 1
        """,
        # t24: DSIR importance weights — identical md5 target bucket,
        # identical md5 token-hash buckets, add-one smoothing, mean of
        # the per-token log ratio (round 6, the ln contract of t10)
        "t24_dsir_weights": "WITH " + _DSIR_CTES + _DSIR_FINAL,
        # t18: C4 banned-word gate — same literal blocklist as the
        # Spark plan
        "t18_badwords": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), m AS (
              SELECT doc_id, len(t)::BIGINT AS token_cnt,
                     len(list_filter(t,
                       x -> list_contains({_BADWORDS_SQL}, x)
                     ))::BIGINT AS bad_cnt
              FROM toks
            ), f AS (
              SELECT doc_id, token_cnt, bad_cnt,
                     CASE WHEN token_cnt > 0
                          THEN round(bad_cnt::DOUBLE
                                     / token_cnt::DOUBLE, 9)
                          ELSE 0.0 END AS bad_frac
              FROM m
            )
            SELECT doc_id, token_cnt, bad_cnt, bad_frac,
                   bad_frac <= 0.0 AS keep
            FROM f
        """,
        # f07: frontier URL blocklist gate — same synthesized
        # candidates and blocklists as the Spark wrapper; the
        # example.net entry mirrors the registrable-domain suffix
        # rule (host itself or any dot-suffix)
        "f07_url_filter": f"""
            WITH c AS (
              SELECT CASE WHEN user_id % 20 >= 15
                          THEN 'h' || (user_id % 20)
                               || '.media.example.net'
                          ELSE 'h' || (user_id % 20) || '.example.com'
                     END AS url_host,
                     CASE WHEN event_id % 17 = 0 THEN 'ftp'
                          WHEN event_id % 5 = 0 THEN 'https'
                          ELSE 'http' END AS scheme,
                     CASE WHEN event_id % 11 = 0 THEN 'jpg'
                          WHEN event_id % 13 = 0 THEN 'pdf'
                          ELSE 'html' END AS ext,
                     event_id AS seq
              FROM events
            ), u AS (
              SELECT scheme || '://' || url_host || '/p/'
                       || (seq % 97) || '.' || ext AS url,
                     url_host, seq, scheme, ext
              FROM c
            )
            SELECT url, url_host, seq,
                   scheme IN ('http', 'https') AS scheme_ok,
                   ({_URLF_DOMAIN_SQL}) AS domain_blocked,
                   ext IN ('jpg') AS ext_blocked,
                   (scheme IN ('http', 'https')
                    AND NOT ({_URLF_DOMAIN_SQL})
                    AND NOT ext IN ('jpg')) AS keep
            FROM u
        """,
        # p09: the p01 mirror with the t18 banned-word predicate
        # slotted into the shared gate WHERE — the template keeps
        # p01 and p09 byte-identical everywhere else
        "p09_clean_badwords": _P01_SQL_TMPL.format(
            extra_gate=_P09_BADWORDS_GATE.format(
                badwords=_BADWORDS_SQL
            )
        ),
        # p19: Flesch-band-gated clean — the t36 readability screen
        # inside p01's single gate scan
        "p19_clean_readable": _P01_SQL_TMPL.format(
            extra_gate=_P19_FRE_GATE.format(
                base=textops.FRE_BASE, wps=textops.FRE_WPS,
                spw=textops.FRE_SPW, sent=textops.SENTENCE_RE,
                vow=textops.VOWEL_GROUP_RE, toks=_TOKS,
                lo=_P19_FRE_MIN,
            )
        ),
        # p20: d15's semdedup chain (shared via _semdedup_ctes, so the
        # two mirrors cannot drift) over the RAW embeddings picks the
        # surviving doc_ids (NOT IN drp — docs without an embedding
        # pass), then p01's body runs on the survivors
        "p20_clean_semdedup": _P01_SQL_TMPL.format(extra_gate="")
        .replace("AS toks FROM documents", "AS toks FROM kept_sem", 1)
        .replace(
            "WITH s AS (",
            "WITH embx AS (SELECT vec_id, embedding FROM embeddings), "
            + _semdedup_ctes("embx")
            + """, kept_sem AS (
              SELECT d.* FROM documents d
              WHERE d.doc_id NOT IN (SELECT vec_id FROM drp)
            ), s AS (""",
            1,
        ),
        # f08: the oracle derives the link table closed-form from
        # doc_id; the Spark side must PARSE the same links out of the
        # synthesized html bytes
        "f08_link_graph": f"""
            WITH l AS ({_LINK_SQL})
            SELECT dst_host,
                   count(*)::BIGINT AS inlinks,
                   count(DISTINCT src_host)::BIGINT AS src_host_cnt,
                   count(DISTINCT dst_url)::BIGINT AS dst_url_cnt
            FROM l
            GROUP BY dst_host
            ORDER BY dst_host
        """,
        "f09_host_rank": _pr_oracle_sql(),
        "f34_trustrank": _tr_oracle_sql(),
        "f35_opic": _opic_oracle_sql(),
        # p21: the t38 cap (shared assignment CTEs + the same quota-8
        # window) feeding p07's pack body — doc_id keys the embedding
        # row, survivors pack in doc_id order
        "p21_balanced_pack": f"""
            WITH embx AS (SELECT vec_id, embedding FROM embeddings),
            {_cluster_assign_ctes('embx')}, capped AS (
              SELECT vec_id FROM best
              QUALIFY row_number() OVER (
                PARTITION BY cluster
                ORDER BY md5(vec_id::VARCHAR), vec_id
              ) <= 8
            ), mixed AS (
              SELECT doc_id, len({_TOKS})::BIGINT AS token_cnt
              FROM documents
              WHERE doc_id IN (SELECT vec_id FROM capped)
            ), c AS (
              SELECT doc_id, token_cnt,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM mixed
            )
            SELECT doc_id, token_cnt,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """,
        # t39: bloom mirror — the SAME md5('j:'||g) probe positions
        # (m=2^20, k=3) recomputed in SQL; a gram hits when all k
        # probes land in the benchmark's set-position set
        "t39_contamination_bloom": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), bench AS (
              SELECT DISTINCT {_G13} AS g
              FROM toks, {_G13_RANGE}
              WHERE len(t) >= 13 AND {_BENCH_RULE}
            ), bpos AS (
              SELECT DISTINCT
                ('0x' || substr(md5(j || ':' || g), 1, 15))::BIGINT
                  % 1048576 AS p
              FROM bench, range(0, 3) r(j)
            ), dg AS (
              SELECT DISTINCT doc_id, {_G13} AS g
              FROM toks, {_G13_RANGE}
              WHERE len(t) >= 13
            ), hits AS (
              SELECT doc_id, g
              FROM dg, range(0, 3) r(j)
              WHERE ('0x' || substr(md5(j || ':' || g), 1, 15))::BIGINT
                      % 1048576 IN (SELECT p FROM bpos)
              GROUP BY doc_id, g
              HAVING count(*) = 3
            ), per AS (
              SELECT doc_id, count(*)::BIGINT AS gram_cnt
              FROM dg GROUP BY doc_id
            ), hc AS (
              SELECT doc_id, count(*)::BIGINT AS hit_cnt
              FROM hits GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.gram_cnt, 0)::BIGINT AS gram_cnt,
                   COALESCE(hc.hit_cnt, 0)::BIGINT AS hit_cnt,
                   COALESCE(hc.hit_cnt, 0) >= 1 AS contaminated
            FROM documents d
            LEFT JOIN per ON per.doc_id = d.doc_id
            LEFT JOIN hc ON hc.doc_id = d.doc_id
        """,
        # f37: host-boilerplate mirror — same planted chrome (header on
        # every page, footer on even slots), same 4-token body
        # re-chunk as d10, same >=3-page AND >=40%-of-host verdict,
        # all-copies-die semantics
        "f37_host_boilerplate": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), pg AS (
              SELECT doc_id,
                     'h' || (doc_id % 10) || '.example.com' AS host,
                     ['nav h' || (doc_id % 10)
                        || '.example.com home login subscribe']
                     || CASE WHEN (doc_id // 10) % 2 = 0
                        THEN ['footer h' || (doc_id % 10)
                              || '.example.com contact terms']
                        ELSE [] END
                     || list_transform(range((len(t) + 3) // 4),
                          i -> array_to_string(t[i*4+1:i*4+4], ' '))
                       AS ls
              FROM toks
            ), l AS (
              SELECT doc_id, host, u.i - 1 AS i, u.line AS line
              FROM (SELECT doc_id, host,
                           unnest(list_transform(ls,
                             (x, j) -> {{'i': j, 'line': x}})) AS u
                    FROM pg)
            ), pl AS (
              SELECT host, line, count(DISTINCT doc_id) AS pages
              FROM l GROUP BY host, line
            ), hs AS (
              SELECT host, count(DISTINCT doc_id) AS n FROM pg
              GROUP BY host
            ), bp AS (
              SELECT pl.host, pl.line
              FROM pl JOIN hs USING (host)
              WHERE pl.pages >= 3 AND pl.pages >= 0.4 * hs.n
            ), k AS (
              SELECT l.doc_id, l.host, l.i, l.line,
                     bp.line IS NULL AS keep
              FROM l LEFT JOIN bp
                ON bp.host = l.host AND bp.line = l.line
            )
            SELECT doc_id, host,
                   count(*)::BIGINT AS line_cnt,
                   sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT
                     AS removed_cnt,
                   coalesce(string_agg(line, chr(10) ORDER BY i)
                              FILTER (WHERE keep), '') AS cleaned_text
            FROM k GROUP BY doc_id, host
        """,
        # f38: canonical-collapse mirror — the plant's closed form:
        # terminals and cycle members (k%50==0 with a 2+-chain) stay
        # self with hops 0; everyone else lands on u(k,0) in s hops
        "f38_canonical_collapse": """
            WITH ks AS (
              SELECT DISTINCT event_id % 300 AS k FROM events
            ), sx AS (
              SELECT k, unnest(range(0, k % 4 + 1)) AS s FROM ks
            ), u AS (
              SELECT k, s,
                     'http://c' || (k % 7) || '.example.com/p/'
                       || k || '/' || s AS url,
                     (k % 50 = 0 AND k % 4 >= 2) AS cyc
              FROM sx
            )
            SELECT url,
                   CASE WHEN s = 0 OR cyc THEN url
                        ELSE 'http://c' || (k % 7) || '.example.com/p/'
                             || k || '/0' END AS canonical_url,
                   (CASE WHEN s = 0 OR cyc THEN 0 ELSE s END)::BIGINT
                     AS hops,
                   (s > 0 AND NOT cyc) AS collapsed
            FROM u ORDER BY url
        """,
        # t38: cluster-cap mirror — the d15 assignment chain shared via
        # _cluster_assign_ctes, then the same md5(id)/id pick order and
        # quota-8 cap inside each cluster
        "t38_cluster_cap": f"""
            WITH embx AS (SELECT vec_id, embedding FROM embeddings),
            {_cluster_assign_ctes('embx')}
            SELECT vec_id, cluster,
                   row_number() OVER (
                     PARTITION BY cluster
                     ORDER BY md5(vec_id::VARCHAR), vec_id
                   )::BIGINT AS pick_rank,
                   (row_number() OVER (
                     PARTITION BY cluster
                     ORDER BY md5(vec_id::VARCHAR), vec_id
                   ) <= 8)::INT AS kept
            FROM best
            ORDER BY vec_id
        """,
        # d16: CDC mirror — same md5-prefix window hash, same cut rule
        # (interior position, window 16, divisor 64), same max-cap-256
        # stride re-split between content cuts; range() is
        # stop-EXCLUSIVE where Spark sequence() is inclusive, hence
        # the +1 / no -1 offsets
        "d16_cdc_chunks": """
            WITH b AS (
              SELECT doc_id, text, length(text)::INT AS ln
              FROM documents WHERE length(text) > 0
            ), cuts AS (
              SELECT doc_id, text, ln,
                     [0::BIGINT]
                       || list_filter(
                         list_transform(range(16, greatest(ln, 16) + 1),
                           i -> CASE WHEN i < ln AND
                             ('0x' || substr(md5(substr(text, i - 15, 16)),
                                             1, 15))::BIGINT % 64 = 0
                             THEN i ELSE -1 END),
                         x -> x != -1)
                       || [ln::BIGINT] AS base
              FROM b
            ), bnd AS (
              SELECT doc_id, text,
                     flatten(list_transform(range(1, len(base)),
                       j -> range(base[j], base[j + 1], 256)))
                       || [ln::BIGINT] AS bounds
              FROM cuts
            ), ch AS (
              SELECT unnest(list_transform(range(1, len(bounds)),
                       j -> substr(text, bounds[j] + 1,
                                   bounds[j + 1] - bounds[j]))) AS chunk
              FROM bnd
            )
            SELECT md5(chunk) AS chunk_hash,
                   count(*)::BIGINT AS freq,
                   min(length(chunk))::BIGINT AS chunk_len
            FROM ch GROUP BY md5(chunk) HAVING count(*) >= 2
            ORDER BY chunk_hash
        """,
        # f36: HRW mirror — same md5-prefix score, argmax via the
        # window tie-break (s DESC, i ASC) that mirrors the fold's
        # strict-> / smaller-i rule; shard universe = range(9), the
        # 8-worker branch just drops shard 8 before the argmax
        "f36_reshard": """
            WITH hosts AS (
              SELECT DISTINCT 'h' || (user_id % 20) || '.example.com'
                       AS host
              FROM events
            ), sc AS (
              SELECT host, r.i,
                     ('0x' || substr(md5(host || ':' || r.i), 1, 15))::BIGINT
                       AS s
              FROM hosts, range(9) r(i)
            ), a8 AS (
              SELECT host, i::INT AS shard_from FROM sc WHERE i < 8
              QUALIFY row_number() OVER (
                PARTITION BY host ORDER BY s DESC, i ASC) = 1
            ), a9 AS (
              SELECT host, i::INT AS shard_to FROM sc
              QUALIFY row_number() OVER (
                PARTITION BY host ORDER BY s DESC, i ASC) = 1
            )
            SELECT host, shard_from, shard_to,
                   (shard_from != shard_to)::INT AS moved
            FROM a8 JOIN a9 USING (host)
            ORDER BY host
        """,
        # f27: HITS mirror — unrolled CTEs generated from the same
        # iteration count; hub/authority rounded to 9 (cross-engine
        # sum-order noise ~1e-14)
        "f27_hits": _hits_oracle_sql(),
        # f18: BFS seed distance — unrolled relaxation mirror, same
        # constants as the Spark loop
        "f18_hop_distance": _hop_oracle_sql(),
        # f11: closed form of the robots.txt round-trip — the
        # specific-agent group (hid%5) beats *, the otherbot group is
        # always ignored, Disallow lines within the chosen groups
        # merge sorted, Crawl-delay only where declared
        "f11_robots_parse": """
            WITH h AS (SELECT DISTINCT (user_id % 20) AS hid FROM events)
            SELECT 'h' || hid || '.example.com' AS url_host,
                   CASE WHEN hid % 5 = 0 THEN ['/only/' || hid]
                        WHEN hid % 3 = 0
                          THEN ['/private/' || hid, '/tmp/']
                        ELSE ['/private/' || hid]
                   END AS disallow_prefixes,
                   CASE WHEN hid % 5 = 0
                          THEN ['/only/' || hid || '/ok']
                        WHEN hid % 2 = 1
                          THEN ['/private/' || hid || '/pub/']
                        ELSE []
                   END AS allow_prefixes,
                   CASE WHEN hid % 5 = 0 THEN 9.0
                        WHEN hid % 2 = 0 THEN (1 + hid % 7)::DOUBLE
                        ELSE NULL END AS crawl_delay,
                   ['http://h' || hid || '.example.com/sitemap.xml']
                     AS sitemaps
            FROM h ORDER BY url_host
        """,
        # f19: closed form of the longest-match verdicts — sparkbot
        # hosts (hid%5=0) follow their own group (nothing here
        # matches it); odd hosts' Allow '/pub/' punches through the
        # Disallow for the v=0 paths; everything else under
        # '/private/' stays blocked
        "f19_robots_gate": """
            WITH c AS (
              SELECT DISTINCT (user_id % 20) AS hid,
                     event_id % 3 AS v, event_id % 50 AS n
              FROM events
            )
            SELECT 'h' || hid || '.example.com' AS url_host,
                   CASE v
                     WHEN 0 THEN '/private/' || hid || '/pub/d' || n
                     WHEN 1 THEN '/private/' || hid || '/s' || n
                     ELSE '/p/' || n END AS path,
                   CASE WHEN hid % 5 = 0 THEN 0
                        WHEN v = 2 THEN 0
                        WHEN v = 0 AND hid % 2 = 1 THEN 0
                        ELSE 1 END AS blocked
            FROM c
        """,
        # t25: boilerplate mirror — the SAME page template (shared
        # segment constants) and the SAME five-step pipeline with the
        # SAME regexes imported from the operator module; integer
        # cross-multiplied link density so no float can drift
        "t25_boilerplate": f"""
            WITH h AS (
              SELECT doc_id,
                     '{_BP_SEG0}' || doc_id || '{_BP_SEG1}' || doc_id
                     || '{_BP_SEG2}' || text || '{_BP_POST}'
                       AS html_str
              FROM documents
            ), b AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       regexp_replace(html_str,
                         '{boilerplate.DROP_RE}', ' ', 'g'),
                       '{boilerplate.BLOCK_SPLIT_RE}') AS bl
              FROM h
            ), c AS (
              SELECT doc_id,
                     list_filter(list_transform(bl,
                       x -> struct_pack(
                         txt := regexp_replace(regexp_replace(
                                  regexp_replace(x,
                                    '{boilerplate.TAG_RE}', ' ', 'g'),
                                  '{boilerplate._WS}', ' ', 'g'),
                                  '{boilerplate._WS_EDGE}', '', 'g'),
                         ac := list_reduce(list_prepend(0::BIGINT,
                                 list_transform(regexp_extract_all(x,
                                   '{boilerplate.ANCHOR_BODY_RE}', 1),
                                   t -> length(t)::BIGINT)),
                                 (a, b) -> a + b)
                       )), s -> s.txt <> '') AS cand
              FROM b
            ), k AS (
              SELECT doc_id, cand,
                     list_filter(cand,
                       s -> length(s.txt) >= 30
                            AND s.ac * 100 <= 33 * length(s.txt))
                       AS kept
              FROM c
            )
            SELECT doc_id,
                   -- COALESCE: array_to_string([]) is NULL on DuckDB,
                   -- '' on Spark — an all-boilerplate page keeps zero
                   -- blocks and must extract to '' on both engines
                   COALESCE(array_to_string(
                     list_transform(kept, s -> s.txt), chr(10)), '')
                     AS main_text,
                   len(cand)::BIGINT AS cand_blocks,
                   len(kept)::BIGINT AS kept_blocks
            FROM k ORDER BY doc_id
        """,
        # t26: head-metadata mirror — the SAME page template (CASE
        # for the omitted elements) and the SAME regex constants from
        # the operator module; title repaired with the contract
        # whitespace class
        "t26_page_metadata": f"""
            WITH h AS (
              SELECT doc_id,
                     '<html lang="' || lang || '"><head><title>Doc  '
                     || doc_id || ' </title>'
                     || CASE WHEN doc_id % 4 != 0 THEN
                          '<meta name="description" content="' || lang
                          || ' doc ' || doc_id || '">'
                        ELSE '' END
                     || CASE WHEN doc_id % 3 != 0 THEN
                          '<link rel="canonical" href="http://h'
                          || (doc_id % 7) || '.docs.example.com/d/'
                          || doc_id || '">'
                        ELSE '' END
                     || '<meta property="og:title" content="OG '
                     || doc_id || '">'
                     || '</head><body><p>' || text
                     || '</p></body></html>' AS html_str
              FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(
                     regexp_extract(html_str,
                       '{boilerplate.TITLE_RE}', 1),
                     '{boilerplate._WS}', ' ', 'g'),
                     '{boilerplate._WS_EDGE}', '', 'g') AS title,
                   regexp_extract(html_str,
                     '{boilerplate.META_DESC_RE}', 1)
                     AS meta_description,
                   regexp_extract(html_str,
                     '{boilerplate.CANONICAL_RE}', 1) AS canonical_url,
                   regexp_extract(html_str,
                     '{boilerplate.OG_TITLE_RE}', 1) AS og_title,
                   regexp_extract(html_str,
                     '{boilerplate.HTML_LANG_RE}', 1) AS html_lang
            FROM h ORDER BY doc_id
        """,
        # t27: mojibake mirror — the damage construction and the
        # replace chain both render from MOJIBAKE_PAIRS; hit counts
        # are exact length arithmetic (each diff is a multiple of the
        # pattern length)
        "t27_fix_mojibake": f"""
            WITH d AS (
              SELECT doc_id,
                     repeat(({_MOJI_LIST_SQL})
                              [(doc_id % {len(_MOJI_BADS)}) + 1],
                            (doc_id % 3 + 1)::INT)
                     || ' ' || text || ' '
                     || ({_MOJI_LIST_SQL})
                          [((doc_id * 3 + 1) % {len(_MOJI_BADS)}) + 1]
                       AS text
              FROM documents
            )
            SELECT doc_id,
                   {_MOJI_FIXED_SQL} AS text_fixed,
                   ({_MOJI_HITS_SQL})::BIGINT AS mojibake_hits
            FROM d ORDER BY doc_id
        """,
        # f23: host-curation mirror — gopher verdict via the shared
        # CTE constants, host aggregate, integer cross-multiplied
        # block rule; kept_docs stated closed-form (docs when kept,
        # 0 when blocked) against the Spark side's real anti-join
        "f23_curate_hosts": f"""
            WITH {_HOSTCUR_CTES}
            SELECT host, docs, bad_docs, blocked,
                   CASE WHEN blocked = 1 THEN 0::BIGINT
                        ELSE docs END AS kept_docs
            FROM cv ORDER BY host
        """,
        # p13: host curation composed into the clean-corpus pipeline —
        # the SAME _HOSTCUR_CTES as f23 (mirrors cannot drift) feed a
        # `curated` survivor set, and the p01 body runs verbatim with
        # ONLY its source swapped (the p10 pattern)
        "p13_host_curated_clean": _P01_SQL_TMPL.format(extra_gate="")
        .replace("AS toks FROM documents", "AS toks FROM curated", 1)
        .replace(
            "WITH s AS (",
            f"WITH {_HOSTCUR_CTES}, curated AS (\n"
            "      SELECT d.* FROM documents d\n"
            "      JOIN cb ON cb.doc_id = d.doc_id\n"
            "      JOIN cv ON cv.host = cb.host\n"
            "      WHERE cv.blocked = 0\n"
            "    ), s AS (",
            1,
        ),
        # f24: link-farm mirror — the functional two-edge host graph
        # stated closed-form (UNION dedups, self-loops dropped), the
        # reverse-edge check as a self-join, verdict by the same
        # integer cross-multiplication
        "f24_linkfarm_hosts": """
            WITH base AS (
              SELECT doc_id % 12 AS r,
                     CASE WHEN doc_id % 12 < 4
                          THEN doc_id % 12 + 1 - 2 * (doc_id % 12 % 2)
                          ELSE (doc_id % 12 + 1) % 12 END AS d1,
                     (doc_id % 12 + 5) % 12 AS d2
              FROM documents
            ), e AS (
              SELECT DISTINCT r AS s, d1 AS d FROM base WHERE d1 != r
              UNION
              SELECT DISTINCT r AS s, d2 AS d FROM base WHERE d2 != r
            ), o AS (
              SELECT s, count(*)::BIGINT AS out_deg FROM e GROUP BY s
            ), rc AS (
              SELECT e.s, count(*)::BIGINT AS recip_deg
              FROM e JOIN e e2 ON e2.s = e.d AND e2.d = e.s
              GROUP BY e.s
            )
            SELECT 'h' || o.s || '.example.com' AS host,
                   out_deg,
                   coalesce(recip_deg, 0)::BIGINT AS recip_deg,
                   CASE WHEN out_deg >= 2
                             AND coalesce(recip_deg, 0) * 100
                                 > 40 * out_deg
                        THEN 1 ELSE 0 END AS flagged
            FROM o LEFT JOIN rc ON rc.s = o.s
            ORDER BY host
        """,
        # f28: mirror-host mirror — same planted content layout
        # (host 1 = full mirror of 0, host 3 = half mirror of 2),
        # same md5 content identity, integral flag arithmetic
        # (shared CTEs in _MIRROR_CTES so the p17 composition cannot
        # drift from this oracle)
        "f28_mirror_hosts": _MIRROR_PAIRS_SQL,
        # t36: readability mirror — same vowel-group syllable
        # surrogate over the SAME lowercased token array, same
        # Flesch constants rendered from the operator's module
        # constants, NULL on token-free docs
        "t36_readability": f"""
            WITH s AS (
              SELECT doc_id, text, {_TOKS} AS toks FROM documents
            ), c AS (
              SELECT doc_id,
                     len(toks)::BIGINT AS token_cnt,
                     greatest(1, len(regexp_extract_all(text,
                       '{textops.SENTENCE_RE}')))::BIGINT
                       AS sentence_cnt,
                     list_reduce(list_prepend(0::BIGINT,
                       list_transform(toks,
                         t -> greatest(1, len(regexp_extract_all(t,
                           '{textops.VOWEL_GROUP_RE}')))::BIGINT)),
                       (a, b) -> a + b) AS syllable_cnt
              FROM s
            )
            SELECT doc_id, token_cnt, sentence_cnt, syllable_cnt,
                   CASE WHEN token_cnt = 0 THEN NULL ELSE
                     round({textops.FRE_BASE}
                       - {textops.FRE_WPS}
                         * (token_cnt::DOUBLE / sentence_cnt::DOUBLE)
                       - {textops.FRE_SPW}
                         * (syllable_cnt::DOUBLE / token_cnt::DOUBLE),
                       9) END AS fre,
                   CASE WHEN token_cnt = 0 THEN NULL ELSE
                     round({textops.FK_WPS}
                         * (token_cnt::DOUBLE / sentence_cnt::DOUBLE)
                       + {textops.FK_SPW}
                         * (syllable_cnt::DOUBLE / token_cnt::DOUBLE)
                       - {textops.FK_BASE}, 9) END AS fk_grade
            FROM c ORDER BY doc_id
        """,
        # t37: lexical-stats mirror — exact integer counts; the Zipf
        # regression's four sums each fold left in rank order over a
        # list(... ORDER BY r), matching Spark's sorted-array folds
        "t37_lexical_stats": f"""
            WITH toks AS (
              SELECT unnest({_TOKS}) AS term FROM documents
            ), counts AS (
              SELECT term, count(*)::BIGINT AS cnt
              FROM toks GROUP BY term
            ), stats AS (
              SELECT sum(cnt)::BIGINT AS token_cnt,
                     count(*)::BIGINT AS type_cnt,
                     sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS hapax_cnt
              FROM counts
            ), top AS (
              SELECT cnt,
                     row_number() OVER (ORDER BY cnt DESC, term ASC)
                       AS r
              FROM counts ORDER BY cnt DESC, term ASC LIMIT 100
            ), arr AS (
              SELECT list(struct_pack(
                       x := ln(r::DOUBLE), y := ln(cnt::DOUBLE))
                     ORDER BY r) AS a
              FROM top
            ), f AS (
              SELECT len(a)::DOUBLE AS n,
                     list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(a, v -> v.x)),
                       (p, q) -> p + q) AS sx,
                     list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(a, v -> v.y)),
                       (p, q) -> p + q) AS sy,
                     list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(a, v -> v.x * v.y)),
                       (p, q) -> p + q) AS sxy,
                     list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(a, v -> v.x * v.x)),
                       (p, q) -> p + q) AS sxx
              FROM arr
            )
            SELECT token_cnt, type_cnt,
                   round(type_cnt::DOUBLE / token_cnt::DOUBLE, 9)
                     AS ttr,
                   hapax_cnt,
                   round(hapax_cnt::DOUBLE / type_cnt::DOUBLE, 9)
                     AS hapax_frac,
                   CASE WHEN n < 2 THEN NULL ELSE
                     round((n * sxy - sx * sy) / (n * sxx - sx * sx),
                           9) END AS zipf_slope
            FROM stats, f
        """,
        # f32: DUST mining mirror — the shared plant + miner CTEs
        # (module constants, also embedded verbatim in f33's mirror)
        "f32_dust_params": f"""
            WITH {_DUST_PAGES_SQL}, {_DUST_MINE_SQL}
            SELECT host, param, n_urls, n_alias, n_same,
                   (n_same >= 3 AND n_same = n_alias)::INT
                     AS irrelevant
            FROM g ORDER BY host, param
        """,
        # f33: DUST apply mirror — rules re-mined by the same CTEs,
        # folded to one list per host, then the rewrite: split the
        # query on '&', drop params whose key is in the host's
        # irrelevant set, reassemble ('?' dropped when nothing
        # survives); hosts without rules and query-free URLs pass
        # through.  list_contains/list_filter are the HOF mirror of
        # Spark's array_contains/filter; the q = '' guard keeps
        # DuckDB's string_split('', '&') = [''] artifact out of play
        "f33_dust_apply": f"""
            WITH {_DUST_PAGES_SQL}, {_DUST_MINE_SQL},
            rules AS (
              SELECT host, param FROM g
              WHERE n_same >= 3 AND n_same = n_alias
            ), rl AS (
              SELECT host, list(param ORDER BY param) AS dps
              FROM rules GROUP BY host
            ), rw AS (
              SELECT p.url, p.host,
                     regexp_extract(p.url, '^([^?#]*)', 1) AS b,
                     regexp_extract(p.url, '\\?([^#]*)', 1) AS q,
                     rl.dps
              FROM pages p LEFT JOIN rl ON rl.host = p.host
            ), k AS (
              SELECT url, host, b, q, dps,
                     list_filter(string_split(q, '&'),
                       x -> NOT list_contains(dps,
                              split_part(x, '=', 1))) AS kept,
                     len(string_split(q, '&')) AS nparts
              FROM rw
            )
            SELECT url, host,
                   CASE WHEN dps IS NULL OR q = '' THEN url
                        WHEN len(kept) = 0 THEN b
                        ELSE b || '?' || array_to_string(kept, '&')
                   END AS dust_url,
                   (CASE WHEN dps IS NULL OR q = '' THEN 0
                         ELSE nparts - len(kept) END)::BIGINT
                     AS n_stripped
            FROM k ORDER BY url
        """,
        # f30: coverage mirror — same planted sitemap/crawl split,
        # presence flags via FULL OUTER JOIN, integral sums
        "f30_sitemap_gap": """
            WITH h AS (
              SELECT doc_id,
                     'h' || (doc_id % 7) || '.docs.example.com' AS host
              FROM documents
            ), sm AS (
              SELECT DISTINCT 'http://' || host || '/d/' || doc_id
                       AS url, host
              FROM h
            ), cr AS (
              SELECT DISTINCT url, host FROM (
                SELECT 'http://' || host || '/d/' || doc_id AS url,
                       host
                FROM h WHERE doc_id % 4 != 0
                UNION ALL
                SELECT 'http://' || host || '/x/' || doc_id AS url,
                       host
                FROM h WHERE doc_id % 6 = 0
              )
            ), j AS (
              SELECT coalesce(sm.host, cr.host) AS host,
                     CASE WHEN sm.url IS NULL THEN 0 ELSE 1 END AS in_s,
                     CASE WHEN cr.url IS NULL THEN 0 ELSE 1 END AS in_c
              FROM sm FULL OUTER JOIN cr
                ON sm.url = cr.url AND sm.host = cr.host
            )
            SELECT host,
                   sum(in_s)::BIGINT AS n_sitemap,
                   sum(in_c)::BIGINT AS n_crawled,
                   sum(in_s * in_c)::BIGINT AS n_both,
                   sum(in_s * (1 - in_c))::BIGINT AS sitemap_only,
                   sum(in_c * (1 - in_s))::BIGINT AS crawl_only
            FROM j GROUP BY host ORDER BY host
        """,
        # p17: f28's CTEs + the keep-one losers rule prepended to
        # p01's body verbatim (the p13 composition pattern)
        "p17_clean_mirror_dedup": _P01_SQL_TMPL.format(extra_gate="")
        .replace("AS toks FROM documents", "AS toks FROM kept_docs", 1)
        .replace(
            "WITH s AS (",
            "WITH " + _MIRROR_CTES + _MIRROR_LOSERS_CTE
            + """, kept_docs AS (
              SELECT d.* FROM documents d
              WHERE 'h' || (d.doc_id % 10) || '.example.com'
                    NOT IN (SELECT host FROM losers)
            ), s AS (""",
            1,
        ),
        # f29: soft-404 mirror — same planted page synthesis, the
        # detector's own regex constants rendered in, lower() (not
        # (?i)) as the portable case fold, integral verdict algebra
        # (CTEs shared with the p18 composition via _SOFT404_CTES)
        "f29_soft404": """
            WITH """ + _SOFT404_CTES + """
            SELECT doc_id, nf_title, nf_phrase, thin,
                   greatest(nf_title, least(nf_phrase, thin)) AS soft404
            FROM sfl ORDER BY doc_id
        """,
        # p18: the f29 verdict as a pre-gate on p01's body — survivors
        # keep the SYNTHESIZED body (the q23 quote prefix included),
        # so the mirrors share both the synthesis and the pipeline
        "p18_clean_soft404": _P01_SQL_TMPL.format(extra_gate="")
        .replace("AS toks FROM documents", "AS toks FROM kept404", 1)
        .replace(
            "WITH s AS (",
            "WITH " + _SOFT404_CTES + """, kept404 AS (
              SELECT doc_id, body AS text FROM sfl
              WHERE greatest(nf_title, least(nf_phrase, thin)) = 0
            ), s AS (""",
            1,
        ),
        # m04: MIME-sniff mirror — the expected verdict stated
        # closed-form from the SAME magic table the operator compiles
        # its CASE from (index i plants prefix i, junk 9th falls
        # through)
        "m04_sniff_mime": """
            SELECT doc_id,
                   CASE doc_id % """ + str(len(_MAGIC_HEXES)) + " "
        + " ".join(
            f"WHEN {i} THEN '{mime}'"
            for i, (_h, mime) in enumerate(multimodal.MAGIC_PREFIXES)
        ) + """
                   ELSE 'application/octet-stream' END AS sniffed_type
            FROM documents ORDER BY doc_id
        """,
        # f25: URL-spam mirror — same URL construction, path/query
        # re-derived by regex (DuckDB has no parse_url), every feature
        # threshold read from the operator's constants
        "f25_url_spam": f"""
            WITH u AS (
              SELECT doc_id,
                     'http://h' || (doc_id % 7) || '.docs.example.com'
                     || CASE WHEN doc_id % 5 = 0
                          THEN '/pad/pad/pad/pad/pad/pad/pad/pad/pad/pad'
                          ELSE '' END
                     || CASE doc_id % 4
                          WHEN 0 THEN '/tag-x-x-x-x-' || doc_id
                          WHEN 1 THEN '/session/' || (doc_id + 1000000)
                          WHEN 2 THEN '/a/b/c/d/e/f/' || doc_id
                          ELSE '/q?a=1&b=2&c=' || doc_id END AS url
              FROM documents
            ), pq AS (
              SELECT doc_id, url,
                     regexp_extract(url,
                       '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM u
            ), sc AS (
              SELECT doc_id,
                     (CASE WHEN length(url) > {urlfilter.SPAM_LONG_URL}
                           THEN 2 ELSE 0 END
                      + CASE WHEN regexp_matches(path,
                               '{urlfilter.SPAM_DIGIT_RUN}')
                             THEN 3 ELSE 0 END
                      + CASE WHEN length(path)
                               - length(replace(path, '-', ''))
                               >= {urlfilter.SPAM_MIN_HYPHENS}
                             THEN 2 ELSE 0 END
                      + CASE WHEN length(path)
                               - length(replace(path, '/', ''))
                               >= {urlfilter.SPAM_MIN_DEPTH}
                             THEN 1 ELSE 0 END
                      + CASE WHEN length(query)
                               - length(replace(query, '=', ''))
                               >= {urlfilter.SPAM_MIN_PARAMS}
                             THEN 2 ELSE 0 END)::INT AS spam_score
              FROM pq
            )
            SELECT doc_id, spam_score,
                   (spam_score >= {urlfilter.SPAM_FLAG_AT})::INT
                     AS spam_flag
            FROM sc ORDER BY doc_id
        """,
        # f22: anchor-text mirror — the link CTE keeps doc_id so the
        # text word is closed-form; cleaned word list + the same
        # (count DESC, text ASC) argmax stated as a window
        "f22_anchor_texts": f"""
            WITH l AS (
              SELECT doc_id, dd,
                     'http://h' || (dd % {_LINK_HOSTS})
                       || '.docs.example.com/d/' || dd AS dst_url
              FROM (SELECT doc_id,
                           (doc_id * {_LINK_MULT} + o) % {_LINK_MOD}
                             AS dd
                    FROM documents,
                         (SELECT unnest([{
                             ', '.join(map(str, _LINK_OFFSETS))}])
                          AS o))
            ), a AS (
              SELECT dst_url,
                     ({_ANCHOR_WORDS_CLEAN_SQL})[
                       (dd + doc_id) % {len(_ANCHOR_WORDS)} + 1]
                       AS anchor_text
              FROM l
            ), per_text AS (
              SELECT dst_url, anchor_text,
                     count(*)::BIGINT AS cnt
              FROM a GROUP BY dst_url, anchor_text
            ), ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY dst_url
                       ORDER BY cnt DESC, anchor_text ASC) AS rk,
                     sum(cnt) OVER (PARTITION BY dst_url)::BIGINT
                       AS anchors,
                     count(*) OVER (PARTITION BY dst_url)::BIGINT
                       AS distinct_texts
              FROM per_text
            )
            SELECT dst_url, anchors, distinct_texts,
                   anchor_text AS top_text, cnt AS top_text_cnt
            FROM ranked WHERE rk = 1 ORDER BY dst_url
        """,
        # f21: redirect-resolution mirror — NOT the algorithm but the
        # chains' closed-form ground truth: chain u(k,s)→…→u(k,0) has
        # final = step 0 and hops = s; every synthesized chain is
        # acyclic and <= 4 hops, so resolved is uniformly true
        "f21_resolve_redirects": """
            WITH ks AS (
              SELECT DISTINCT (event_id % 500) AS k FROM events
            ), s AS (
              SELECT k, unnest(range(1, k % 5 + 1)) AS s
              FROM ks WHERE k % 5 <> 0
            )
            SELECT 'http://r' || (k % 13) || '.example.com/u/'
                     || k || '/' || s AS url,
                   'http://r' || (k % 13) || '.example.com/u/'
                     || k || '/0' AS final_url,
                   s::BIGINT AS hops,
                   TRUE AS resolved
            FROM s ORDER BY url
        """,
        # f20: trap detection mirror — the SAME two collapse regexes
        # (hex first, then digits; constants imported from urlfilter
        # so the engines cannot drift), then the (host, pattern)
        # distinct-URL rollup and the (count DESC, pattern ASC)
        # argmax stated as a window
        "f20_trap_hosts": f"""
            WITH c AS (
              SELECT (user_id % 20) AS hid,
                     CASE WHEN (user_id % 20) % 10 = 0
                          THEN '/cal/' || (event_id % 997)
                               || '/' || (event_id % 12)
                          WHEN (user_id % 20) % 5 = 0
                          THEN '/s/' || printf('%08x',
                                               event_id % 99991)
                          ELSE '/' || ({_TRAP_SECTIONS_SQL})[
                                 (event_id % {len(_TRAP_SECTIONS)})
                                 + 1]
                               || '/' || (event_id % 97)
                     END AS path
              FROM events
            ), u AS (
              SELECT 'h' || hid || '.example.com' AS url_host,
                     'http://h' || hid || '.example.com' || path
                       AS url,
                     regexp_replace(regexp_replace(lower(path),
                       '{urlfilter._TRAP_HEX_RE}', '~h', 'g'),
                       '{urlfilter._TRAP_DIGIT_RE}', '~d', 'g')
                       AS pattern
              FROM c
            ), per_pat AS (
              SELECT url_host, pattern,
                     count(DISTINCT url)::BIGINT AS pattern_urls
              FROM u GROUP BY url_host, pattern
            ), per_host AS (
              SELECT *,
                     row_number() OVER (PARTITION BY url_host
                       ORDER BY pattern_urls DESC, pattern ASC)
                       AS rk,
                     sum(pattern_urls) OVER (PARTITION BY url_host)
                       ::BIGINT AS host_urls,
                     count(*) OVER (PARTITION BY url_host)
                       ::BIGINT AS pattern_cnt
              FROM per_pat
            )
            SELECT url_host, host_urls, pattern_cnt,
                   pattern AS top_pattern,
                   pattern_urls AS top_pattern_urls,
                   (pattern_urls >= 100
                    AND pattern_urls::DOUBLE
                        >= 0.5 * host_urls::DOUBLE) AS trap
            FROM per_host WHERE rk = 1 ORDER BY url_host
        """,
        "f12_snapshot_churn": f"""
            WITH {_SNAP_HIST_SQL}
            SELECT url, versions, changes, first_ts_us, last_ts_us,
                   last_changed
            FROM hist ORDER BY url
        """,
        "f13_recrawl": f"""
            WITH {_SNAP_HIST_SQL}
            SELECT url,
                   least({_RECRAWL_LEVELS},
                         b * (1 + changes))::BIGINT AS recrawl_priority,
                   ({_RECRAWL_AS_OF_US} - last_ts_us) AS age_us,
                   versions, changes
            FROM (SELECT *,
                         (({_RECRAWL_AS_OF_US} - last_ts_us)
                          // {_RECRAWL_MIN_AGE_SEC * 1_000_000}) AS b
                  FROM hist)
            WHERE b >= 1
            ORDER BY url
        """,
        # f14: closed form of the discovery cascade — candidate set,
        # robots prefix verdict per chosen group, per-host LIFO rank,
        # politeness spacing with the robots Crawl-delay override
        "f14_discovery_schedule": """
            WITH c0 AS (
              SELECT 'h' || (user_id % 20) || '.example.com' AS url_host,
                     (user_id % 20) AS hid,
                     CASE WHEN event_id % 2 = 0
                          THEN '/private/' || (event_id % 97)
                          ELSE '/p/' || (event_id % 97) END AS path,
                     event_id
              FROM events
            ), cand AS (
              SELECT url_host, hid, path,
                     'http://' || url_host || path AS url,
                     min(event_id) AS seq
              FROM c0 GROUP BY url_host, hid, path
            ), gated AS (
              SELECT * FROM cand
              WHERE NOT (CASE WHEN hid % 5 = 0
                              THEN starts_with(path, '/only/' || hid)
                              ELSE starts_with(path,
                                               '/private/' || hid)
                                   OR (hid % 3 = 0
                                       AND starts_with(path, '/tmp/'))
                         END)
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY url_host
                                           ORDER BY seq DESC)
                          AS host_rank
              FROM gated
            )
            SELECT url, url_host, seq, host_rank::BIGINT AS host_rank,
                   (floor((host_rank - 1) / 2)
                    * CASE WHEN hid % 5 = 0 THEN 9.0
                           WHEN hid % 2 = 0 THEN (1 + hid % 7)::DOUBLE
                           ELSE 1.0 END) AS fetch_ts
            FROM ranked ORDER BY url
        """,
        # f15: all priorities are 0 in this queue, so the budget order
        # reduces to seq DESC on both axes
        "f15_queue_budget": f"""
            WITH c AS (
              SELECT {_CAND_URL_SQL} AS url, {_CAND_HOST_SQL} AS url_host,
                     event_id AS seq
              FROM events
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY url_host
                                           ORDER BY seq DESC) AS hr
              FROM c
            ), k AS (
              SELECT * FROM r WHERE hr <= 3
            ), g AS (
              SELECT *, row_number() OVER (ORDER BY seq DESC) AS gr
              FROM k
            )
            SELECT url, url_host, seq FROM g WHERE gr <= 40
            ORDER BY url, seq
        """,
        # f39: weighted-budget mirror — same 1+hid%5 weights, the same
        # Hamilton floor+base+largest-remainder seats (window at host
        # cardinality, host-name tie-break), same (priority=const →
        # seq DESC) within-host keep order
        "f39_weighted_budget": f"""
            WITH c AS (
              SELECT {_CAND_URL_SQL} AS url, {_CAND_HOST_SQL} AS url_host,
                     event_id AS seq
              FROM events
            ), hosts AS (
              SELECT DISTINCT url_host,
                     1.0 + (regexp_extract(url_host, 'h(\\d+)', 1)::BIGINT
                            % 5) AS w
              FROM c
            ), s AS (
              SELECT count(*)::BIGINT AS h, sum(w) AS wsum FROM hosts
            ), qa AS (
              SELECT url_host,
                     (60 - 1 * (SELECT h FROM s)) * w
                       / (SELECT wsum FROM s) AS share
              FROM hosts
            ), qb AS (
              SELECT url_host, floor(share)::BIGINT AS base,
                     share - floor(share) AS rem
              FROM qa
            ), qc AS (
              SELECT url_host, base,
                     row_number() OVER (ORDER BY rem DESC, url_host ASC)
                       AS rn,
                     (60 - 1 * (SELECT h FROM s))
                       - (SELECT sum(base) FROM qb) AS leftover
              FROM qb
            ), quota AS (
              SELECT url_host,
                     1 + base + (rn <= leftover)::BIGINT AS quota
              FROM qc
            ), r AS (
              SELECT c.*, row_number() OVER (PARTITION BY c.url_host
                                             ORDER BY seq DESC) AS hr
              FROM c
            )
            SELECT url, url_host, seq
            FROM r JOIN quota USING (url_host)
            WHERE hr <= quota
            ORDER BY url, seq
        """,
        "f16_host_skew": f"""
            WITH h AS (
              SELECT {_CAND_HOST_SQL} AS url_host,
                     count(*)::BIGINT AS depth
              FROM events GROUP BY url_host
            ), t AS (SELECT sum(depth)::DOUBLE AS total FROM h),
            r AS (
              SELECT url_host, depth,
                     row_number() OVER (ORDER BY depth DESC, url_host)
                       AS rank
              FROM h
            )
            SELECT url_host, depth, rank::BIGINT AS rank,
                   round(depth / (SELECT total FROM t), 9) AS share,
                   round(sum(depth) OVER (ORDER BY rank)
                         / (SELECT total FROM t), 9) AS cum_share
            FROM r WHERE rank <= 10 ORDER BY rank
        """,
        # p10: the p01 body with ONLY its source swapped to a
        # `crawl_docs` CTE carrying the crawl-extracted text shape —
        # the crawl→extract→clean cascade and the pure-SQL pipeline
        # must agree token for token
        "p10_crawl_clean": _P01_SQL_TMPL.format(extra_gate="").replace(
            "WITH s AS (",
            "WITH crawl_docs AS (\n"
            "      SELECT doc_id,\n"
            "             'Doc ' || doc_id || ' ' || text AS text\n"
            "      FROM documents\n"
            "    ), s AS (",
            1,
        ).replace("AS toks FROM documents", "AS toks FROM crawl_docs", 1),
        # f10: the oracle states the closed form of what the Spark
        # side must round-trip through synthesized sitemap XML (incl.
        # NULL lastmod/priority for the entries that omit the child)
        "f10_sitemap_scan": """
            SELECT 'http://h' || (doc_id % 7)
                     || '.docs.example.com/sitemap.xml' AS sitemap_url,
                   'http://h' || (doc_id % 7)
                     || '.docs.example.com/d/' || doc_id AS url,
                   'h' || (doc_id % 7) || '.docs.example.com' AS url_host,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE '2024-01-'
                             || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
                   END AS lastmod,
                   CASE WHEN doc_id % 3 = 0
                        THEN ((doc_id % 9) + 1) / 10.0
                        ELSE NULL END AS sm_priority
            FROM documents
            ORDER BY url
        """,
        # t28: code-point Shannon entropy — explicit [^\n\r] class
        # (Java's dot excludes NEL/LS/PS, RE2's only \n), prefix
        # sample, p*ln(p) fold over the distinct alphabet; + 0.0
        # normalizes DuckDB's -0.0 on one-symbol docs
        "t28_char_entropy": f"""
            WITH s AS (
              SELECT doc_id, {_ENTROPY_A_SQL} AS a FROM documents
            ), e AS (
              SELECT doc_id, len(a)::BIGINT AS char_cnt,
                     len(list_distinct(a))::BIGINT AS distinct_chars,
                     CASE WHEN len(a) > 0 THEN
                       {_entropy_sql("a")}
                     END AS entropy
              FROM s
            )
            SELECT doc_id, char_cnt, distinct_chars, entropy,
                   (char_cnt >= {_ENTROPY_MIN_CHARS}
                    AND entropy < {_ENTROPY_MIN_BITS})::INT
                     AS low_entropy
            FROM e
        """,
        # t29: deterministic release split — the CASE renders from
        # the SAME split_bounds integers the Spark plan compiles in
        "t29_assign_splits": f"""
            SELECT doc_id,
                   {_SPLIT_BUCKET_SQL} AS split_bucket,
                   {_SPLIT_CASE_SQL} AS split
            FROM documents
        """,
        # t30: interpolated bigram LM — pair stream from the same
        # 1-indexed adjacent slices, context counts folded from the
        # bigram table, unigram/total from the full token stream
        "t30_bigram_logprob": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), pr AS (
              SELECT doc_id, t[i] AS prev, t[i+1] AS cur
              FROM toks, unnest(range(1, len(t))) r(i)
            ), big AS (
              SELECT prev, cur, count(*)::BIGINT AS bcnt
              FROM pr GROUP BY prev, cur
            ), ctx AS (
              SELECT prev, sum(bcnt)::BIGINT AS ccnt
              FROM big GROUP BY prev
            ), uni AS (
              SELECT cur, count(*)::BIGINT AS ucnt
              FROM (SELECT unnest(t) AS cur FROM toks) GROUP BY cur
            ), tot AS (
              SELECT sum(ucnt)::BIGINT AS total FROM uni
            )
            SELECT doc_id, count(*)::BIGINT AS bigram_cnt,
                   round(avg(ln(
                     {_BIGRAM_LAM} * (bcnt::DOUBLE / ccnt::DOUBLE)
                     + {1.0 - _BIGRAM_LAM}
                       * (ucnt::DOUBLE / total::DOUBLE))), 6)
                     AS mean_logprob
            FROM pr JOIN big USING (prev, cur) JOIN ctx USING (prev)
                 JOIN uni USING (cur), tot
            GROUP BY doc_id
        """,
        # t44_gzip_ratio: deflate — non-SQL-expressible (rows-only;
        # zlib parity pinned in pytest).
        # t46: BPE-ish subword counting — same GPT-2-style pattern
        # (lookaround-free; \p classes and the explicit whitespace
        # class read identically in Java regex and RE2)
        "t46_subword_stats": f"""
            WITH m AS (
              SELECT doc_id,
                     regexp_extract_all(text, {_SUBWORD_RE_SQL})
                       AS mt,
                     {_TOKS} AS t
              FROM documents
            ), s AS (
              SELECT doc_id, len(mt)::BIGINT AS match_cnt,
                     list_filter(mt, x ->
                       NOT regexp_matches(x,
                         '^[ \\t\\n\\f\\r]+$')) AS nw,
                     len(t)::BIGINT AS word_cnt
              FROM m
            )
            SELECT doc_id, match_cnt,
                   len(nw)::BIGINT AS subword_cnt, word_cnt,
                   CASE WHEN word_cnt > 0 THEN
                     round(len(nw)::DOUBLE / word_cnt::DOUBLE, 9)
                   END AS fertility,
                   CASE WHEN len(nw) > 0 THEN
                     round(list_reduce(list_prepend(0::BIGINT,
                       list_transform(nw, x -> length(x)::BIGINT)),
                       (a, b) -> a + b)::DOUBLE
                       / len(nw)::DOUBLE, 9)
                   END AS chars_per_subword
            FROM s
        """,
        # t45: Gopher line-format rules — same edge-trim as the
        # tokenizer per line, empty lines out of the denominator
        "t45_gopher_lines": """
            WITH s AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split(text, chr(10)),
                         l -> regexp_replace(l,
                           '^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$',
                           '', 'g')),
                       l -> length(l) > 0) AS ls
              FROM documents
            ), fr AS (
              SELECT doc_id, len(ls)::BIGINT AS line_cnt,
                     CASE WHEN len(ls) > 0 THEN
                       len(list_filter(ls,
                         l -> substr(l, 1, 1) IN ('•', '-', '*')
                       ))::DOUBLE / len(ls)::DOUBLE END AS bf,
                     CASE WHEN len(ls) > 0 THEN
                       len(list_filter(ls,
                         l -> ends_with(l, '...') OR ends_with(l, '…')
                       ))::DOUBLE / len(ls)::DOUBLE END AS ef
              FROM s
            )
            SELECT doc_id, line_cnt,
                   round(bf, 9) AS bullet_frac,
                   round(ef, 9) AS ellipsis_frac,
                   (coalesce(bf <= 0.9, true)
                    AND coalesce(ef <= 0.3, true))::INT AS passes
            FROM fr
        """,
        # t43: Count-Min heavy hitters — sketch folded from the
        # unigram table with the portable 60-bit md5 bucket hash;
        # estimate = min over the d cells a token maps to
        "t43_cms_heavy": f"""
            WITH toks AS (
              SELECT unnest({_TOKS}) AS tok FROM documents
            ), uni AS (
              SELECT tok, count(*)::BIGINT AS ucnt FROM toks GROUP BY tok
            ), keyed AS (
              SELECT tok, ucnt, j,
                     ('0x' || substr(md5(j || ':' || tok), 1, 15))::BIGINT
                       % {_CMS_WIDTH} AS b
              FROM uni, unnest([{", ".join(str(j) for j in range(_CMS_DEPTH))}]) r(j)
            ), sk AS (
              SELECT j, b, sum(ucnt)::BIGINT AS cell
              FROM keyed GROUP BY j, b
            ), est AS (
              SELECT tok, min(cell)::BIGINT AS est_cnt,
                     max(ucnt)::BIGINT AS exact_cnt
              FROM keyed JOIN sk USING (j, b) GROUP BY tok
            )
            SELECT tok AS token, est_cnt, exact_cnt
            FROM est WHERE est_cnt >= {_CMS_MIN_EST}
        """,
        # t42: interpolated Kneser-Ney (D = _KN_DISCOUNT) — same pair
        # generator as t30; the side tables fold from the bigram-TYPE
        # table (continuation counts), mirroring kn_bigram_logprob
        "t42_kn_bigram": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), pr AS (
              SELECT doc_id, t[i] AS prev, t[i+1] AS cur
              FROM toks, unnest(range(1, len(t))) r(i)
            ), big AS (
              SELECT prev, cur, count(*)::BIGINT AS bcnt
              FROM pr GROUP BY prev, cur
            ), ctx AS (
              SELECT prev, sum(bcnt)::BIGINT AS ccnt,
                     count(*)::BIGINT AS fanout
              FROM big GROUP BY prev
            ), cont AS (
              SELECT cur, count(*)::BIGINT AS lctx
              FROM big GROUP BY cur
            ), ty AS (
              SELECT count(*)::BIGINT AS btypes FROM big
            )
            SELECT doc_id, count(*)::BIGINT AS bigram_cnt,
                   round(avg(ln(
                     (bcnt::DOUBLE - {_KN_DISCOUNT}) / ccnt::DOUBLE
                     + {_KN_DISCOUNT} * fanout::DOUBLE / ccnt::DOUBLE
                       * (lctx::DOUBLE / btypes::DOUBLE))), 6)
                     AS mean_logprob_kn
            FROM pr JOIN big USING (prev, cur) JOIN ctx USING (prev)
                 JOIN cont USING (cur), ty
            GROUP BY doc_id
        """,
        # t31: DSIR Gumbel-top-k — t24's CTEs verbatim, key =
        # weight - ln(-ln(u)) with u = (bucket+1)/65537 strictly
        # inside (0,1); ORDER BY key DESC, doc_id LIMIT k is the
        # same total order TakeOrderedAndProject applies
        "t31_dsir_select": (
            "WITH " + _DSIR_CTES + ", dsw AS (" + _DSIR_FINAL + ")"
            + f"""
            SELECT doc_id, token_cnt, dsir_weight,
                   round(dsir_weight - ln(-ln(
                     (('0x' || substr(md5(doc_id::VARCHAR
                        || ':{_DSIR_SELECT_SALT}'), 1, 4))::BIGINT
                      + 1) / 65537.0)), 6) AS gumbel_key
            FROM dsw
            ORDER BY gumbel_key DESC, doc_id
            LIMIT {_DSIR_SELECT_K}
        """),
        # d12: quality-aware cluster representatives — d06's
        # component CTEs verbatim, then the window-free
        # max-quality/min-id argmax the Spark side computes
        "d12_cluster_best": (
            "WITH RECURSIVE " + _CLUSTERS_CTES + f""", q AS (
              SELECT cl.doc_id, cl.cluster_id,
                     len({_TOKS})::BIGINT AS quality
              FROM clusters cl JOIN documents USING (doc_id)
            ), qm AS (
              SELECT cluster_id, max(quality) AS qmax
              FROM q GROUP BY cluster_id
            ), rep AS (
              SELECT q.cluster_id, min(doc_id) AS rep
              FROM q JOIN qm ON q.cluster_id = qm.cluster_id
                            AND q.quality = qm.qmax
              GROUP BY q.cluster_id
            )
            SELECT q.doc_id, q.cluster_id, q.quality,
                   (q.doc_id = rep.rep)::INT AS kept
            FROM q JOIN rep USING (cluster_id)
        """),
        # p14: split -> pack — t29's train predicate feeds p02's
        # packed layout (both constant tables shared with the
        # standalone mirrors)
        "p14_split_pack": f"""
            WITH tr AS (
              SELECT doc_id, len({_TOKS})::BIGINT AS token_cnt
              FROM documents
              WHERE {_SPLIT_TRAIN_PRED}
            ), c AS (
              SELECT doc_id, token_cnt,
                     COALESCE(SUM(token_cnt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev
              FROM tr
            )
            SELECT doc_id, token_cnt,
                   (prev // 512)::BIGINT AS seq_id,
                   (prev % 512)::BIGINT AS seq_offset
            FROM c
        """,
        # m05: byte-sampled perceptual average-hash per payload
        "m05_media_phash": (
            "WITH " + _PHASH_DEFAULT_PM + _PHASH_TAIL
            + "\nSELECT doc_id, n_bytes, phash FROM ph"
        ),
        # m07: scene cuts — the m03 frame arithmetic (stride, ≤4
        # offsets) + the m05 aHash fold per frame slice (absolute
        # hex-offset sampling), lag window per doc
        "m07_scene_cuts": (
            "WITH " + _PHASH_DEFAULT_PM + f""", fr AS (
              SELECT doc_id, media,
                     octet_length(media)::BIGINT AS n,
                     greatest(1, octet_length(media) // 4)::BIGINT
                       AS stride
              FROM pm WHERE octet_length(media) > 0
            ), fx AS (
              SELECT doc_id, media, n, stride, i::BIGINT AS frame_id,
                     (i * stride)::BIGINT AS off,
                     least(stride, n - i * stride)::BIGINT AS flen
              FROM fr, unnest([0, 1, 2, 3]) r(i)
              WHERE i * stride < n
            ), fs AS (
              SELECT doc_id, frame_id, off,
                     list_transform(range({_PHASH_S}), j ->
                       ('0x' || substring(hex(media),
                          2 * (off + (j * flen) // {_PHASH_S}) + 1,
                          2))::BIGINT) AS sm
              FROM fx
            ), fp AS (
              SELECT doc_id, frame_id, off AS "offset",
                     list_reduce(list_prepend(0::BIGINT,
                       list_transform(sm, x ->
                         CASE WHEN {_PHASH_S} * x > list_sum(sm)
                              THEN 1::BIGINT ELSE 0::BIGINT END)),
                       (a, x) -> a * 2 + x)::BIGINT AS phash
              FROM fs
            ), lagd AS (
              SELECT doc_id, frame_id, "offset", phash,
                     lag(phash) OVER (
                       PARTITION BY doc_id ORDER BY frame_id) AS prev
              FROM fp
            )
            SELECT doc_id, frame_id, "offset", phash,
                   CASE WHEN prev IS NOT NULL THEN
                     bit_count(xor(phash, prev))::INT END
                     AS hamming_prev,
                   (prev IS NULL
                    OR bit_count(xor(phash, prev)) > 12)::INT
                     AS scene_cut
            FROM lagd
        """),
        # m06: the FULL pair join filtered to the Hamming ball — the
        # closed form the band-pigeonhole join must reproduce exactly
        # at radius <= 3; input = the planted near-dup payload groups
        # (same base text, last char substituted per member)
        "m06_phash_pairs": (
            "WITH " + _PHASH_PLANTED_PM + _PHASH_TAIL + f"""
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.phash, b.phash))::INT AS hamming
            FROM ph a JOIN ph b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash))
                    <= {_PHASH_HAMMING_MAX}
        """),
        # t32: score-proportional sampling — t12's score CTEs
        # verbatim, survivors where the md5 bucket falls under
        # floor(score * 0x10000)
        "t32_score_sample": (
            "WITH " + _CLS_SCORE_CTES + f"""
            SELECT doc_id, cls_score FROM clsm
            WHERE ('0x' || substr(md5(doc_id::VARCHAR
                     || ':{_QS_SALT}'), 1, 4))::BIGINT
                  < floor(cls_score * 65536.0)
        """),
        # p15: the p01 mirror with the t28 entropy screen slotted
        # into the shared gate WHERE (the p09 extra_gate pattern)
        "p15_clean_entropy": _P01_SQL_TMPL.format(
            extra_gate=_P15_ENTROPY_GATE
        ),
        # d13: media cluster dedup — the m06 Hamming-ball pair graph
        # closed transitively (recursive CTE), then the d12 argmax
        # with the md5-bucket quality stand-in
        "d13_media_cluster_best": (
            "WITH RECURSIVE " + _PHASH_PLANTED_PM + _PHASH_TAIL
            + f""", prs AS (
              SELECT a.doc_id AS da, b.doc_id AS db
              FROM ph a JOIN ph b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.phash, b.phash))
                      <= {_PHASH_HAMMING_MAX}
            ), edges AS (
              SELECT da AS u, db AS v FROM prs
              UNION SELECT db, da FROM prs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS cluster_id
              FROM reach GROUP BY u
            ), q AS (
              SELECT ph.doc_id,
                     coalesce(comp.cluster_id, ph.doc_id)
                       AS cluster_id,
                     ('0x' || substr(md5(ph.doc_id::VARCHAR
                        || ':mq'), 1, 4))::BIGINT AS quality
              FROM ph LEFT JOIN comp USING (doc_id)
            ), qm AS (
              SELECT cluster_id, max(quality) AS qmax
              FROM q GROUP BY cluster_id
            ), rep AS (
              SELECT q.cluster_id, min(doc_id) AS rep
              FROM q JOIN qm ON q.cluster_id = qm.cluster_id
                            AND q.quality = qm.qmax
              GROUP BY q.cluster_id
            )
            SELECT q.doc_id, q.cluster_id, q.quality,
                   (q.doc_id = rep.rep)::INT AS kept
            FROM q JOIN rep USING (cluster_id)
        """),
        # t33: per-source smoothed unigram KL vs the pooled corpus —
        # zero-count completion via vocab x shard cross join, add-one
        # smoothing over the corpus vocabulary
        "t33_source_drift": f"""
            WITH tok AS (
              SELECT source AS grp, unnest({_TOKS}) AS t
              FROM documents
            ), cs AS (
              SELECT grp, t, count(*)::BIGINT AS cnt
              FROM tok GROUP BY grp, t
            ), vocab AS (
              SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t
            ), tot AS (
              SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v
              FROM vocab
            ), st AS (
              SELECT grp, sum(cnt)::BIGINT AS ns FROM cs GROUP BY grp
            ), fl AS (
              SELECT st.grp, vocab.t, vocab.c, st.ns,
                     coalesce(cs.cnt, 0) AS cnt
              FROM vocab CROSS JOIN st
              LEFT JOIN cs ON cs.grp = st.grp AND cs.t = vocab.t
            )
            SELECT grp AS source, max(ns)::BIGINT AS shard_tokens,
                   round(sum(
                     ((cnt + 1)::DOUBLE / (ns + v)::DOUBLE)
                     * ln(((cnt + 1)::DOUBLE / (ns + v)::DOUBLE)
                          / ((c + 1)::DOUBLE / (n + v)::DOUBLE))
                   ), 6) AS kl_drift
            FROM fl, tot
            GROUP BY grp
        """,
        # f26: AutoThrottle mirror — same synthesized fetch log, same
        # integer arithmetic (// where Spark floors a double divide),
        # same clamp and error/no-OK rules
        "f26_autothrottle": """
            WITH log AS (
              SELECT 'h' || (doc_id % 7) || '.docs.example.com'
                       AS url_host,
                     (400 + (doc_id % 7) * 900
                      + (doc_id % 13) * 37)::BIGINT AS latency_ms,
                     CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 6
                          THEN 503 ELSE 200 END AS status
              FROM documents
            ), agg AS (
              SELECT url_host,
                     sum(CASE WHEN status BETWEEN 200 AND 299
                         THEN 1 ELSE 0 END)::BIGINT AS n_ok,
                     sum(CASE WHEN status BETWEEN 200 AND 299
                         THEN 0 ELSE 1 END)::BIGINT AS n_err,
                     sum(CASE WHEN status BETWEEN 200 AND 299
                         THEN latency_ms ELSE 0 END)::BIGINT AS ok_sum
              FROM log GROUP BY url_host
            ), d AS (
              SELECT *,
                     least(60000, greatest(250,
                       ok_sum // (n_ok * 2))) AS clamped
              FROM agg
            )
            SELECT url_host, n_ok, n_err,
                   CASE WHEN n_ok > 0 THEN ok_sum // n_ok
                   END AS mean_ok_ms,
                   CASE WHEN n_ok = 0 THEN 5000
                        WHEN n_err > 0 THEN greatest(5000, clamped)
                        ELSE clamped END AS delay_ms,
                   (CASE WHEN n_ok = 0 THEN 5000
                         WHEN n_err > 0 THEN greatest(5000, clamped)
                         ELSE clamped END)::DOUBLE / 1000.0
                     AS download_delay
            FROM d
        """,
        # f40: RetryMiddleware retry state — same synthesized attempt
        # log (1-based generate_series is inclusive on both bounds,
        # matching Spark's sequence), same status classes, same
        # trailing-run counting after the last success, same exact
        # floor(base·2^(run-1)) backoff capped at 86400 s
        "f40_retry_schedule": _F40_SQL,
        # f41: the f40 verdicts applied to a candidate frontier —
        # f40's body verbatim, one LEFT join on url, one CASE; the
        # as-of instant (3e9 us) splits backoffs into due/defer
        "f41_retry_gate": f"""
            WITH f40 AS ({_F40_SQL}), cand AS (
              SELECT CASE WHEN doc_id % 11 = 0
                          THEN 'unseen-' || doc_id
                          ELSE 'u' || doc_id END AS url,
                     (doc_id % 5)::BIGINT AS priority
              FROM documents
            )
            SELECT c.url, c.priority, f.state AS retry_state,
                   f.next_attempt_us,
                   CASE WHEN f.state IN ('failed', 'gave_up')
                          THEN 'drop'
                        WHEN f.state = 'retry'
                             AND f.next_attempt_us > 3000000000
                          THEN 'defer'
                        WHEN f.state = 'retry' THEN 'due'
                        ELSE 'pass' END AS gate
            FROM cand c LEFT JOIN f40 f ON f.url = c.url
        """,
        # t34: BM25 mirror — same query VALUES table rendered from
        # _BM25_QUERIES, same k1/b literals from textops constants,
        # score rounded to 9 BEFORE ranking (tie-break doc_id) so both
        # engines rank identically
        "t34_bm25": _BM25_SQL_TMPL.format(
            qvalues=_BM25_VALUES_SQL, id_expr="doc_id", toks=_TOKS,
            src="documents", terms=_BM25_TERMS_SQL,
            k1p1=repr(textops.BM25_K1 + 1), k1=repr(textops.BM25_K1),
            omb=repr(1 - textops.BM25_B), b=repr(textops.BM25_B),
            final="""SELECT query_id, doc_id, score,
                   row_number() OVER (
                     PARTITION BY query_id ORDER BY score DESC, doc_id
                   )::BIGINT AS rank
            FROM sc
            QUALIFY row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, doc_id
            ) <= 10""",
        ),
        # f31: focused-crawl priority — the SAME BM25 body over the
        # planted anchor-text profiles (src is a derived table, the
        # word rotation rendered from _F31_WORDS), ranked without a
        # top-k cap: priority 1 = fetch first
        "f31_focused_priority": _BM25_SQL_TMPL.format(
            qvalues=", ".join(
                f"(0, '{t}')" for t in sorted(set(_F31_TOPIC))),
            id_expr="dst_url",
            toks=_TOKS.replace("lower(text)", "lower(anchor_text)"),
            src=f"""(
              SELECT 'http://h' || (doc_id % 7)
                       || '.docs.example.com/d/' || doc_id AS dst_url,
                     w1 || ' ' || w2 || ' page about ' || w1
                       AS anchor_text
              FROM (SELECT doc_id,
                           {_F31_WORDS_SQL}[(doc_id % 7) + 1] AS w1,
                           {_F31_WORDS_SQL}[((doc_id * 3 + 1) % 7) + 1]
                             AS w2
                    FROM documents)
            )""",
            terms=", ".join(f"'{t}'" for t in sorted(set(_F31_TOPIC))),
            k1p1=repr(textops.BM25_K1 + 1), k1=repr(textops.BM25_K1),
            omb=repr(1 - textops.BM25_B), b=repr(textops.BM25_B),
            final="""SELECT doc_id AS url, score,
                   row_number() OVER (
                     PARTITION BY query_id ORDER BY score DESC, doc_id
                   )::BIGINT AS priority
            FROM sc ORDER BY priority""",
        ),
        # t35: winnowing mirror — identical key packing (hash*2^21 +
        # (2^20 - pos)) and identical window math; DuckDB list slices
        # are 1-based inclusive, matching F.slice(arr, start, len)
        # with len = least(w, m)
        "t35_winnow": f"""
            WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            g AS (SELECT doc_id, len(t) - 2 AS m, t FROM tk
                  WHERE len(t) - 2 >= 1),
            ky AS (
              SELECT doc_id, m,
                     list_transform(range(1, m + 1), i ->
                       (('0x' || substr(md5(
                          array_to_string(t[i:i+2], ' ')), 1, 15)
                        )::BIGINT % 1073741824) * 2097152
                       + (1048576 - i)) AS keys
              FROM g
            ), sel AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(m - 3, 1) + 1),
                       j -> list_min(keys[j : j + least(4, m) - 1])
                     )) AS picks
              FROM ky
            )
            SELECT doc_id,
                   (1048576 - (key % 2097152) - 1)::BIGINT AS pos,
                   (key // 2097152)::BIGINT AS fp
            FROM (SELECT doc_id, unnest(picks) AS key FROM sel)
            ORDER BY doc_id, pos
        """,
        # p16: p04 with the BEST-member representative rule — the
        # shared component CTEs verbatim, only the kept rule swapped
        # (argmax token_cnt, min id on ties = the d12 mirror)
        "p16_clean_full_best": (
            f"WITH RECURSIVE cleaned AS ({_P01_SQL}),"
            + (_CLEAN_FULL_KEPT_BEST_SQL
               + _PACK_TAIL_SQL.format(src="kept", extra="")
               ).format(toks=_TOKS)
        ),
    }
    # d17: the banded-MinHash scale path verifies candidates with the
    # exact distinct-shingle Jaccard, so its semantics — and its
    # mirror — are d11's VERBATIM (shared dict entry: cannot drift);
    # the LSH recall gap (~5e-8 at τ=0.8, r=4, b=32) is the only
    # difference, and the correctness gate measures it as zero here
    sql["d17_cross_corpus_lsh"] = sql["d11_cross_corpus"]
    return sql
