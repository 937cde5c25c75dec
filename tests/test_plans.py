"""Physical-plan regression guards.

PLANS.md records plan facts read off `.explain("formatted")`; these
tests pin the load-bearing ones so a refactor that silently
un-pushes a filter, un-broadcasts a dimension, or reintroduces a
cartesian/per-row-Python path fails CI instead of surviving until the
next 100×-scale run."""

import pytest

import __spark_entry__ as em

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushdown_and_column_pruning(spark):
    plan = _plan(em.queries()["q01_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # 6-of-11 column projection reaches the scan
    assert "ReadSchema: struct<l_quantity" in plan
    assert "l_comment" not in plan          # untouched column never read


def test_q05_dimension_joins_broadcast(spark):
    plan = _plan(em.queries()["q05_broadcast_dim"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan      # fact side never shuffles


def test_f04_crawl_round_stays_vectorized(spark):
    import re

    plan = _plan(em.queries()["f04_crawl_records"](spark, SF))
    # Arrow-vectorized python only — a row-at-a-time BatchEvalPython
    # in this pipeline would be a 10-100x regression
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the frontier seq comes from doc_id, not a global row_number —
    # every window in the flagship plan must carry a partition spec
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            "unpartitioned window in crawl plan: " + m.group(0)
        )


def test_d03_minhash_no_cartesian(spark):
    plan = _plan(em.queries()["d03_dedup_minhash"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_s04_bucketed_neardup_no_cartesian(spark):
    plan = _plan(em.queries()["s04_emb_neardup_lsh"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan        # band keys are one Arrow pass


def test_expand_children_no_unpartitioned_window(spark):
    # VERDICT r2 #1: the child-expansion re-base must never cumulate
    # through a single task — every window in the expansion plan has a
    # partition spec, the bases join is sort-merge (children are never
    # broadcast), and all three consumers of the bucketed count table
    # read ONE cached instance (one range exchange, one consistent
    # spark_partition_id evaluation).
    import re

    from hepcrawl_spark.frontier.rounds import _expand_children

    records = spark.createDataFrame(
        [(f"http://h{i % 3}.org/p{i}",
          [f"http://h{i % 3}.org/p{i}/c{j}" for j in range(40)])
         for i in range(12)],
        "url string, new_urls array<string>",
    )
    scheduled = spark.createDataFrame(
        [(f"http://h{i % 3}.org/p{i}", float(i % 4), 0, 100 + i, 0,
          "t", "html-generic") for i in range(12)],
        "url string, fetch_ts double, priority long, seq long, "
        "depth int, source string, format string",
    )
    out = _expand_children(records, scheduled, seq_base=0, max_depth=4)
    out.collect()
    plan = _plan(out)
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            "unpartitioned window in expansion plan: " + m.group(0)
        )
    assert "SortMergeJoin" in plan
    assert "InMemoryTableScan" in plan
    out._expand_cache.unpersist()


def test_t01_tokens_pure_codegen(spark):
    plan = _plan(em.queries()["t01_text_tokens"](spark, SF))
    # text analysis is JVM-side column expressions, no Python at all
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # codegen spans render as "*(n)" in executedPlan().toString()
    assert "*(1)" in plan


def test_q10_asof_join_is_single_shuffle_window(spark):
    plan = _plan(em.queries()["q10_asof_join"](spark, SF))
    # the as-of join must plan as union + key-partitioned window — any
    # Join operator means the inequality-join formulation snuck back
    assert "Join" not in plan
    assert "Union" in plan and "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_d06_clusters_no_cartesian(spark):
    plan = _plan(em.queries()["d06_dedup_clusters"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_t06_corpus_stats_partial_agg_no_python(spark):
    plan = _plan(em.queries()["t06_corpus_stats"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # partial→final hash aggregation around one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_t07_sample_is_shuffle_free_codegen_filter(spark):
    plan = _plan(em.queries()["t07_sample_stratified"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan          # pure scan+filter, no shuffle
    assert "Filter" in plan


def test_t08_top_ngrams_partial_agg_then_window(spark):
    plan = _plan(em.queries()["t08_top_ngrams"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # explode volume reduces through partial→final agg BEFORE the
    # ranked window (the window sees distinct n-grams only)
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan


def test_minhash_base_single_arrow_pass(spark):
    # PLANS.md round-3 perf pass: a filter on the UDF's output column
    # used to re-evaluate the whole Arrow pass a second time, BELOW the
    # spread repartition (i.e. serially over the scan's native row
    # group).  The base pass must plan exactly one ArrowEvalPython.
    from hepcrawl_spark.operators.dedup import minhash_base

    # an earlier d03 plan test persists the same base frame; drop the
    # cache so this test sees the raw (uncached) physical plan.
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_base(docs))
    assert plan.count("ArrowEvalPython") == 1


def test_minhash_lsh_caches_base_pass(spark):
    # the pair pipeline references its (id, shingles, bands) base four
    # times; an uncached base re-runs the corpus-wide Arrow pass per
    # reference.  With the cache every reference reads an
    # InMemoryTableScan, and each ArrowEvalPython in the plan string is
    # merely the cached relation's printed definition (one physical
    # evaluation), never a live operator outside a cache.
    from hepcrawl_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, threshold=0.8))
    assert plan.count("InMemoryTableScan") >= 4
    assert plan.count("ArrowEvalPython") == plan.count("InMemoryRelation")


def test_top_ngrams_tokenizes_once_per_row(spark):
    # bind_once: the bigram builder must not inline the regex tokenizer
    # into the per-position lambda — exactly one split(regexp_replace)
    # in the plan's projection.
    from hepcrawl_spark.operators.textops import top_ngrams

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(top_ngrams(docs, n=2, k=5, group_col="lang"))
    assert plan.count("regexp_replace") == 1


def test_p01_clean_corpus_single_scan_single_shuffle(spark):
    # the pipeline's whole pre-shuffle body is one codegen scan pass:
    # no Python eval, exactly one Exchange (the content-hash dedup),
    # partitioned window only, and the gopher gate sits BELOW it
    plan = _plan(em.queries()["p01_clean_corpus"](spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 1
    assert plan.count("FileScan") == 1
    import re
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg


def test_p02_pack_no_unpartitioned_window(spark):
    # the packing layout's only window is the within-range-bucket
    # cumsum (partitioned by _bkt); the global prefix is the
    # triangular join over bucket totals, and token counting is pure
    # codegen (no Python eval anywhere)
    import re

    plan = _plan(em.queries()["p02_pack_sequences"](spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg


def test_d07_span_dupfrac_partial_agg_no_python(spark):
    # span frequencies come from a hash groupBy with map-side partial
    # aggregation (never a per-span window that would funnel a hot
    # stop-span through one task); spans explode from one codegen pass
    plan = _plan(em.queries()["d07_span_dupfrac"](spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "windowspecdefinition" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_t10_unigram_logprob_partial_agg_no_window(spark):
    # frequencies and the total are aggregates (map-side partial),
    # the total rides a broadcast cross join, and nothing drops to
    # Python or a per-token window
    plan = _plan(em.queries()["t10_unigram_logprob"](spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "windowspecdefinition" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_t11_contamination_broadcast_linear_join(spark):
    # the eval-set gram side broadcasts (never a shuffled/skewed
    # join on a hot gram) and nothing drops to Python
    plan = _plan(em.queries()["t11_benchmark_contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_t12_classifier_single_scan_no_shuffle(spark):
    # weights are a plan literal: the whole classifier is one codegen
    # scan pass — no Exchange, no join, no Python
    plan = _plan(em.queries()["t12_classifier_score"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_t13_t14_scan_only_rewrites(spark):
    # PII scrubbing and line dedup are per-row rewrites: zero
    # shuffles, zero Python, full column pruning to (doc_id, text)
    for name in ("t13_pii_scrub", "t14_dedup_lines"):
        plan = _plan(em.queries()[name](spark, SF))
        assert "Exchange" not in plan, name
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, name


def test_d08_capped_span_same_shape_as_d07(spark):
    # the cap must not change the plan family: partial-agg freq +
    # flag join, never a window over spans or a pair join
    plan = _plan(em.queries()["d08_span_dupfrac_capped"](spark, SF))
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2     # partial + final


def test_d09_span_rewrite_inner_flag_join_no_python(spark):
    # flag join is INNER (clean positions never shuffle), frequencies
    # are partial-agg groupBys, the rewrite is per-row HOF codegen —
    # no window over spans, no Cartesian, no Python anywhere
    plan = _plan(em.queries()["d09_span_rewrite"](spark, SF))
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 2     # partial + final freq


def test_p06_span_rewrite_composition_shape(spark):
    # the composed pipeline keeps every stage's contract: no
    # row-at-a-time Python, no Cartesian blowup, and the span-freq
    # partial aggregation appears alongside the p04 stages
    q = em.queries()["p06_clean_span_rewritten"](spark, SF)
    plan = _plan(q)
    for c in getattr(q, "_caches", []):
        c.unpersist()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_t15_mix_sample_shuffle_free_codegen_filter(spark):
    # rate-table mixing is a pure map-side gate: no Exchange, no
    # Python, column pruning down to the three carried columns
    plan = _plan(em.queries()["t15_mix_sample"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "windowspecdefinition" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" \
        in plan


def test_t16_nb_train_partial_agg_broadcast_totals(spark):
    # token counts collapse through the B-key partial-agg groupBy,
    # class totals ride a broadcast, and nothing drops to Python or
    # a window
    plan = _plan(em.queries()["t16_classifier_train"](spark, SF))
    assert plan.count("HashAggregate") >= 2     # partial + final
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "windowspecdefinition" not in plan


def test_t17_mix_quota_no_per_shard_window(spark):
    # quota rank comes from the skew-safe two-phase cumsum: every
    # window carries a partition spec (never a whole-shard sort on
    # one task) and the per-shard bases ride a broadcast join
    import re

    q = em.queries()["t17_mix_quota"](spark, SF)
    plan = _plan(q)
    spark.catalog.clearCache()
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        assert " ASC" not in m.group(1) and " DESC" not in m.group(1)
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_t18_badwords_single_scan_no_shuffle(spark):
    # the blocklist is a plan literal: one codegen scan, no Exchange,
    # no join, no Python, pruned to (doc_id, text)
    plan = _plan(em.queries()["t18_badwords"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_d10_global_line_dedup_two_hash_shuffles_no_window(spark):
    # winner-per-line is a partial-agg MIN (HashAggregate both sides
    # of its Exchange) joined back on the line key; per-doc
    # re-assembly is another hash agg — never a Window, never a
    # cartesian, never Python
    plan = _plan(em.queries()["d10_dedup_lines_global"](spark, SF))
    assert "Window" not in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 aggs


def test_f07_url_filter_single_pass_over_candidates(spark):
    # all three blocklist predicates are literals over columns the
    # identity pass already computed: no join, no extra shuffle
    # beyond the (Arrow) url-identity projection itself
    plan = _plan(em.queries()["f07_url_filter"](spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_f20_trap_detection_is_window_free_aggregation(spark):
    # trap detection is two hash aggregates (host×pattern rollup,
    # then the min_by argmax per host) — a mega trap host folds
    # map-side and never sorts; no window, no join, no Python
    plan = _plan(em.queries()["f20_trap_hosts"](spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan and "Cartesian" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 aggs


def test_run_crawl_plans_have_no_unpartitioned_window(spark, tmp_path):
    # VERDICT r3 #8: with_global_order (the one unpartitioned window,
    # parity-test-only) must be unreachable from production rounds —
    # assert structurally over EVERY plan a real multi-round crawl
    # executes (scheduling lineage, next-queue expansion, fetch join):
    # each windowspecdefinition's first argument is a partition
    # column, never a sort order
    import re

    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import (
        CrawlConfig,
        make_seeds,
        run_crawl,
    )

    def page(url, links):
        body = "".join(f'<a href="{u}">x</a>' for u in links)
        return (url,
                f"<html><head><title>T {url}</title></head>"
                f"<body>doc body {url} {body}</body></html>".encode(),
                "html-generic")

    rows, seed_urls = [], []
    for i in range(12):
        host = f"h{i % 4}.x"
        seed = f"http://{host}/s{i}"
        kids = [f"http://{host}/s{i}/c{j}" for j in range(3)]
        rows.append(page(seed, kids))
        rows.extend(page(k, []) for k in kids)
        seed_urls.append(seed)
    pages = spark.createDataFrame(
        rows, "url string, html binary, format string"
    )
    seeds = make_seeds(spark, [(u, "html-generic", 0) for u in seed_urls])
    summary = run_crawl(
        spark, seeds, pages,
        config=CrawlConfig(seen_mode="exact", max_rounds=4,
                           collect_fetch_plans=True),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary["rounds"] >= 2          # multi-round evidence
    all_plans = (summary["schedule_plans"] + summary["queue_plans"]
                 + summary["fetch_plans"])
    assert len(all_plans) >= 6
    for plan in all_plans:
        for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
            first_arg = m.group(1)
            assert " ASC" not in first_arg and " DESC" not in first_arg, (
                "unpartitioned window in a production round plan: "
                + m.group(0)
            )


def _outside_caches(plan: str) -> str:
    """``plan`` without the cached plans printed under each
    InMemoryRelation (they are indented deeper than the relation)."""
    kept, cut = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and col > cut:
            continue
        cut = col if "InMemoryRelation" in line else None
        kept.append(line)
    return "\n".join(kept)


def _host_tree_crawl_inputs(spark):
    from hepcrawl_spark.frontier.rounds import make_seeds
    from hepcrawl_spark.schema import POLITENESS_SCHEMA

    rows, seed_urls = [], []
    for h in range(3):
        for i in range(6):
            url = f"http://h{h}.x/s{i}"
            links = "".join(f'<a href="{url}/c{j}">x</a>' for j in range(2))
            rows.append((url, f"<html><title>{url}</title>"
                              f"<body>{links}</body></html>".encode()))
            rows.extend((f"{url}/c{j}", f"<html><title>{url}/c{j}</title>"
                                        f"</html>".encode())
                        for j in range(2))
            seed_urls.append(url)
    pages = spark.createDataFrame(rows, "url string, html binary")
    seeds = make_seeds(spark, [(u, "html-generic", 0) for u in seed_urls])
    politeness = spark.createDataFrame(
        [(f"h{h}.x", 1.0, 1) for h in range(3)], POLITENESS_SCHEMA)
    return pages, seeds, politeness


def test_run_crawl_commit_plans_read_the_persisted_rank(spark, tmp_path):
    # schedule persists its ranked frame once per round: the committed
    # next queue (deferred rows + children) and the merged host offsets
    # read that cache and carry no per-host rank Window of their own
    # (before, the offsets write re-ran the whole rank)
    import re

    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig, run_crawl

    pages, seeds, politeness = _host_tree_crawl_inputs(spark)
    summary = run_crawl(
        spark, seeds, pages, politeness,
        config=CrawlConfig(seen_mode="exact", max_rounds=3, horizon=3.0,
                           collect_fetch_plans=True),
        store=RoundStore(spark, str(tmp_path)),
    )
    assert summary["rounds"] == 3
    plans = summary["queue_plans"] + summary["offsets_plans"]
    assert len(plans) == 6
    rank_window = re.compile(r"windowspecdefinition\(url_host#")
    for plan in plans:
        assert rank_window.search(plan)     # inside the cached rank
        own = _outside_caches(plan)
        assert "InMemoryTableScan" in own
        assert not rank_window.search(own), own


def test_repeat_crawl_compiles_no_new_code(spark, tmp_path):
    # the session's generated-code cache holds a whole crawl's classes:
    # an identical second crawl compiles nothing
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import CrawlConfig, run_crawl

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    pages, seeds, politeness = _host_tree_crawl_inputs(spark)
    compiled = []
    for name in ("cold", "repeat"):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run_crawl(spark, seeds, pages, politeness,
                  config=CrawlConfig(seen_mode="cuckoo", num_shards=4,
                                     max_rounds=3, horizon=3.0),
                  store=RoundStore(spark, str(tmp_path / name)))
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] == 0, compiled


def test_s06_int8_ann_jvm_only_broadcast_queries(spark):
    # SQ8 top-k: the query side broadcasts against the streamed corpus
    # (brute force is all-pairs by definition, so the nested-loop join
    # IS the intended shape — what matters is that the small side is
    # the broadcast one) and the whole quantize→int-dot→rank path is
    # JVM column expressions: no Python boundary of any kind
    plan = _plan(em.queries()["s06_ann_int8"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_s07_pq_broadcast_sides_and_no_rowwise_python(spark):
    # PQ/ADC top-k: the ADC leg streams the (codes-only) corpus
    # against the broadcast query+LUT side; the refine leg broadcasts
    # the Q·rerank shortlist and the tiny query-vector dim against the
    # corpus scan — the corpus is never the built/broadcast side and
    # never re-shuffled.  Encode/LUT are Arrow-vectorized pandas UDFs
    # (ArrowEvalPython); row-at-a-time Python must not appear.
    plan = _plan(em.queries()["s07_ann_pq"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan      # ADC all-pairs leg
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan


def test_f40_retry_schedule_two_aggs_one_equijoin_no_windows(spark):
    # retry state = two partial-agg groupBys + one equi-join, all on
    # the url key: no window over the raw attempt log, no nested-loop
    # join, no Python anywhere
    plan = _plan(em.queries()["f40_retry_schedule"](spark, SF))
    assert "windowspecdefinition" not in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_s08_ivfpq_equijoin_only_no_all_pairs(spark):
    # the point of composing IVF into PQ: the candidate join is an
    # EQUI-join on the cell id with the query side broadcast — the
    # all-pairs nested loop s07 pays must NOT appear anywhere (refine
    # joins are equi on neighbor_id/query_id too)
    plan = _plan(em.queries()["s08_ann_ivfpq"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_p22_dupline_gate_no_python_no_nested_loop(spark):
    # the d10 drop rule in front of p01: line stats are partial-agg
    # groupBys on the line key + a leftsemi back on doc_id — no
    # nested-loop join, no Python, no unpartitioned window
    plan = _plan(em.queries()["p22_clean_dupline"](spark, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_t41_sketch_stats_partial_agg_no_distinct_expand(spark):
    # the point of sketches: HLL/GK are partial aggregates — the plan
    # must be scan→partial→final HashAggregates joined at group
    # cardinality, with NO Expand (the exact count-distinct shape) and
    # no Python
    plan = _plan(em.queries()["t41_sketch_stats"](spark, SF))
    assert "EvalPython" not in plan
    assert "Expand" not in plan
    assert "approx_count_distinct" in plan or "HashAggregate" in plan


def test_f41_retry_gate_one_equijoin_codegen_case(spark):
    # f40's aggregates + ONE left equi-join on url + a codegen CASE:
    # no extra shuffle beyond f40's own, no window, no Python
    plan = _plan(em.queries()["f41_retry_gate"](spark, SF))
    assert "windowspecdefinition" not in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_d14_containment_shares_d02_join_shape(spark):
    # containment rides d02's inverted-index equi-join: shuffle on the
    # shingle key, never a cartesian pair enumeration
    plan = _plan(em.queries()["d14_containment"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_p17_mirror_filter_is_broadcast_anti_join(spark):
    # the loser-host set is tiny (host cardinality); dropping its
    # pages must ride a broadcast anti-join in front of p01's single
    # scan, never a shuffle of the corpus on host
    plan = _plan(em.queries()["p17_clean_mirror_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_p20_semdedup_drop_is_broadcast_anti_join(spark):
    # the semdedup drop set is a tiny id list; removing its documents
    # must ride a broadcast anti-join in front of p01's gate scan —
    # the corpus never shuffles on doc_id — and the verdict side keeps
    # semantic_dedup's contract: seeds broadcast for assignment, no
    # cartesian pair enumeration, no row-at-a-time Python
    plan = _plan(em.queries()["p20_clean_semdedup"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_p19_readability_gate_single_scan(spark):
    # the Flesch band must ride p01's one gate scan: exactly one scan
    # of documents, no join added, no Python
    plan = _plan(em.queries()["p19_clean_readable"](spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_no_query_uses_row_at_a_time_python(spark):
    # global guard over the WHOLE driver contract: no query's plan may
    # contain a row-at-a-time Python eval (BatchEvalPython) — every
    # Python boundary in the engine is Arrow-vectorized
    # (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
    for name, fn in em.queries().items():
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_t19_t20_single_codegen_scan_no_exchange(spark):
    # the repetition battery and the C4 line filter are pure per-row
    # projections: one codegen scan, zero shuffles, zero joins, no
    # Python anywhere — the shape that stays scan-bound at 100 TB
    for q in ("t19_repetition", "t20_c4_filter"):
        plan = _plan(em.queries()[q](spark, SF))
        assert "Exchange" not in plan, q
        assert "Join" not in plan, q
        assert "EvalPython" not in plan, q
        # toString() marks whole-stage-codegen spans with a "*(n)"
        # prefix on the operator line
        assert "*(" in plan, q


def test_t21_buckets_broadcast_assignment_no_corpus_sort(spark):
    # CCNet bucketing: the only window runs over the md5 SAMPLE
    # (partitioned by lang); the boundary table joins back broadcast;
    # the full corpus is never globally sorted
    plan = _plan(em.queries()["t21_ccnet_buckets"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # every Window in the plan is partitioned (no empty partition spec)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "partitionbyspec" not in line.lower()


def test_f17_warc_parse_no_python_no_cartesian(spark):
    plan = _plan(em.queries()["f17_warc_scan"](spark, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_f18_hop_distance_no_cartesian_no_python(spark):
    plan = _plan(em.queries()["f18_hop_distance"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_t22_t23_single_scan_no_exchange(spark):
    # punctuation folding is a pure projection; chunking is a
    # projection + generate — neither may shuffle or join
    for q in ("t22_normalize_punct", "t23_chunk_documents"):
        plan = _plan(em.queries()[q](spark, SF))
        assert "Exchange" not in plan, q
        assert "Join" not in plan, q
        assert "EvalPython" not in plan, q


def test_d11_cross_corpus_no_cartesian_broadcast_sizes(spark):
    plan = _plan(em.queries()["d11_cross_corpus"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the exact-hash membership and both size tables ride broadcast
    assert plan.count("BroadcastHashJoin") >= 3


def test_p12_pack_no_unpartitioned_window(spark):
    # the Spark side lays out via two_phase_cumsum — a corpus-wide
    # ORDER BY window (empty partition spec) must never appear
    plan = _plan(em.queries()["p12_ccnet_pack"](spark, SF))
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            # every window carries a partition expression before the
            # ordering spec (the sample-rank and bucket windows)
            head = line.split("windowspecdefinition(", 1)[1]
            assert not head.lstrip().startswith("_w"), line


def test_t24_dsir_broadcast_model_no_sort_merge(spark):
    # DSIR: the n_buckets-row log-ratio table must ride broadcast back
    # to the token stream — a sort-merge join there would shuffle the
    # full token explosion a second time; the model side is fixed-size
    # by construction so this must never regress
    plan = _plan(em.queries()["t24_dsir_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_t28_t29_single_codegen_scan_no_exchange(spark):
    # entropy screen and split assignment are pure per-row
    # projections: one codegen scan, zero shuffles, zero joins,
    # no Python — free metadata on the scan at 100 TB
    for q in ("t28_char_entropy", "t29_assign_splits"):
        plan = _plan(em.queries()[q](spark, SF))
        assert "Exchange" not in plan, q
        assert "Join" not in plan, q
        assert "EvalPython" not in plan, q
        assert "*(" in plan, q


def test_t30_bigram_no_cartesian_no_python(spark):
    # bigram LM: pair stream joins three count tables — hash joins
    # only (AQE may pick broadcast for the small count tables), never
    # a cartesian pair build, never Python
    plan = _plan(em.queries()["t30_bigram_logprob"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # partial aggregation on the count tables (map-side combine)
    assert "partial_count" in plan


def test_t31_dsir_select_is_take_ordered(spark):
    # Gumbel-top-k must lower to TakeOrderedAndProject (per-partition
    # heaps), never a global Sort + Limit over the corpus; the DSIR
    # model side stays broadcast exactly as in t24
    plan = _plan(em.queries()["t31_dsir_select"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_d12_cluster_best_no_cartesian_no_row_python(spark):
    # representative selection: the argmax is two partial aggs + two
    # hash joins on cluster_id — no window, no cartesian, Arrow-only
    # Python (the MinHash signature pass)
    plan = _plan(em.queries()["d12_cluster_best"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            raise AssertionError("window in d12 plan: " + line)


def test_p14_split_pack_no_unpartitioned_window(spark):
    # the packed layout runs through two_phase_cumsum — a corpus-wide
    # ORDER BY window must never appear, and the split gate must stay
    # a scan-side filter (no extra exchange before the rank)
    df = em.queries()["p14_split_pack"](spark, SF)
    plan = _plan(df)
    spark.catalog.clearCache()
    assert "EvalPython" not in plan
    import re
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            "unpartitioned window in p14: " + m.group(0)
        )


def test_m05_phash_single_codegen_scan(spark):
    # the 60 byte samples are 1-byte BINARY substrings — per-row cost
    # independent of payload size; one projection, no shuffle/join
    plan = _plan(em.queries()["m05_media_phash"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_m06_phash_pairs_band_join_no_cartesian(spark):
    # candidates come from the (band_id, band_val) equi-join — a
    # cartesian pair build must never appear, and no Python anywhere
    plan = _plan(em.queries()["m06_phash_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_t32_score_sample_single_scan_no_exchange(spark):
    # the score folds in the bound token array and the keep test is a
    # map-side filter on the same projection — composes under filter
    # pushdown, zero shuffle
    plan = _plan(em.queries()["t32_score_sample"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_p15_clean_entropy_keeps_p01_shape(spark):
    # the entropy screen must ride p01's single scan: still exactly
    # one scan, one exchange (the content-hash dedup), no Python —
    # the same pin p01 carries
    plan = _plan(em.queries()["p15_clean_entropy"](spark, SF))
    assert plan.count("Exchange") == 1
    assert plan.count("FileScan") == 1
    assert "EvalPython" not in plan


def test_p16_keep_best_no_window_no_row_python(spark):
    # the best-member argmax must stay window-free (two partial aggs
    # + joins on cluster_id) and the pipeline keeps p04's no-
    # cartesian / Arrow-only-Python shape
    df = em.queries()["p16_clean_full_best"](spark, SF)
    plan = _plan(df)
    for c in getattr(df, "_caches", []):
        c.unpersist()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    import re
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            "unpartitioned window in p16: " + m.group(0)
        )


def test_f26_autothrottle_single_hash_agg_no_window(spark):
    # one hash aggregate at host cardinality with map-side partials —
    # no window, no join, no Python; nothing at fetch-log cardinality
    # leaves the scan stage
    plan = _plan(em.queries()["f26_autothrottle"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2      # partial -> final
    assert plan.count("Exchange hashpartitioning") == 1


def test_t33_source_drift_no_python_partial_aggs(spark):
    # one explode feeding two map-side-combining aggregates; the
    # zero-count completion cross-joins the vocab against the
    # BROADCAST shard list — nothing at token-stream cardinality
    # joins, and no Python anywhere
    plan = _plan(em.queries()["t33_source_drift"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_d13_media_cluster_best_no_cartesian_no_row_python(spark):
    # fingerprint -> band pairs -> components -> argmax: the whole
    # media dedup loop stays window-free and cartesian-free
    plan = _plan(em.queries()["d13_media_cluster_best"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            raise AssertionError("window in d13 plan: " + line)


def test_t34_bm25_broadcast_postings_topk_pushdown(spark):
    # inverted-index shape: tokens filtered to the query vocabulary
    # inside the scan projection, df/stats/query-table all broadcast,
    # and the per-query top-k runs as a PARTIAL WindowGroupLimit
    # before the rank shuffle — nothing at corpus-token cardinality
    # ever shuffles
    plan = _plan(em.queries()["t34_bm25"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") == 2     # partial + final


def test_t35_winnow_single_scan_zero_shuffle(spark):
    # the whole selection stays inside the row: one scan, one Arrow
    # projection (default mode), no exchange, no window, no join, no
    # row-at-a-time Python
    plan = _plan(em.queries()["t35_winnow"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window " not in plan and "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert plan.count("FileScan") == 1
    # the codegen reference selection keeps the zero-Python pin
    from parity_refs import winnow_keys_col
    from pyspark.sql import functions as F

    from hepcrawl_spark.operators.textops import tokens_col
    cg = _plan(em._t(spark, SF, "documents").select(
        winnow_keys_col(tokens_col(F.col("text")), k=3, w=4)))
    assert "EvalPython" not in cg and "Exchange" not in cg


def test_f27_hits_no_cartesian_no_python(spark):
    # pagerank's iteration shape: score-frame joins + broadcast 1-row
    # norm divisors — no cartesian blowup, no Python anywhere
    plan = _plan(em.queries()["f27_hits"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_f35_opic_no_cartesian_no_python(spark):
    # OPIC keeps pagerank's iteration shape: the (edge ⋈ out-weight)
    # side partitioned once, only the small cash/hist frame moving per
    # round, dangling via broadcast 1-row agg — no cartesian blowup
    # (the dangling crossJoin must broadcast), no Python anywhere
    plan = _plan(em.queries()["f35_opic"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_p21_balanced_pack_broadcast_keep_join(spark):
    # the cluster-capped keep set is tiny (quota-bounded per cluster);
    # the document join must broadcast it, and the pack tail keeps
    # p02's two-phase shape (no unpartitioned window)
    import re

    df = em.queries()["p21_balanced_pack"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*?),", plan):
        first_arg = m.group(1)
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            "unpartitioned window in p21: " + m.group(0)
        )
    spark.catalog.clearCache()


def test_q11_range_join_is_bucketized_equi_join(spark):
    # the interval join must plan as a hash equi-join on the bucket
    # key (+ Generate for the interval explode) — never the
    # nested-loop/cartesian shape the naive theta join produces
    plan = _plan(em.queries()["q11_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_t42_kn_bigram_no_python_no_window_broadcast_types(spark):
    # KN statistics fold from the bigram-TYPE table; the 1-row type
    # count rides a broadcast — no Python, no window anywhere
    plan = _plan(em.queries()["t42_kn_bigram"](spark, SF))
    assert "EvalPython" not in plan
    assert "windowspecdefinition" not in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_t43_cms_broadcast_sketch_pure_codegen(spark):
    # the d·w-cell sketch BROADCASTS back onto the probe side; the
    # whole query is JVM integer arithmetic
    plan = _plan(em.queries()["t43_cms_heavy"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t44_gzip_arrow_only_pruned_scan(spark):
    # deflate runs as ONE Arrow pandas UDF over the pruned (id, text)
    # projection; no row-at-a-time Python, no shuffle
    plan = _plan(em.queries()["t44_gzip_ratio"](spark, SF))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_t45_gopher_lines_single_codegen_scan(spark):
    # line rules are HOF folds over the once-bound line array: one
    # scan, zero Exchange, zero Python
    plan = _plan(em.queries()["t45_gopher_lines"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_f42_ip_schedule_broadcast_dims_no_unpartitioned_window(spark):
    # resolution + budget dims broadcast; the rank is the two-phase
    # slot-bucketed shape — every window carries a partition spec
    plan = _plan(em.queries()["f42_ip_schedule"](spark, SF))
    assert "BroadcastHashJoin" in plan
    lowered = plan.lower()
    for frag in lowered.split("windowspecdefinition")[1:]:
        head = frag.split(")", 1)[0]
        assert "specifiedwindowframe" in frag or head, frag[:80]
    assert "windowspecdefinition()" not in lowered.replace(" ", "")
    assert "BatchEvalPython" not in plan


def test_f43_content_seen_checksum_partitioned_window(spark):
    # the dup flag is ONE window partitioned by the md5 checksum —
    # near-unique key, no Python, no join in the standalone form
    plan = _plan(em.queries()["f43_content_seen"](spark, SF))
    assert "EvalPython" not in plan
    assert plan.lower().count("windowspecdefinition") >= 1
    assert "md5" in plan.lower()


def test_p23_line_gate_keeps_p01_shape(spark):
    # folding t45 into the gate must not add a scan or an Exchange
    # beyond p01's single content-hash shuffle + rank window
    plan = _plan(em.queries()["p23_clean_gopherlines"](spark, SF))
    assert "EvalPython" not in plan
    base = _plan(em.queries()["p01_clean_corpus"](spark, SF))
    assert plan.count("Exchange") == base.count("Exchange")
