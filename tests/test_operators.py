"""Training-data pipeline operators: dedup / similarity / text / media."""

import pytest

from pyspark.sql import functions as F

from hepcrawl_spark.lifetimes import release
from hepcrawl_spark.operators import dedup, multimodal, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different words entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "spark engines shuffle partitions across executors"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_stats(docs):
    r = {x.doc_id: x for x in textops.token_stats(docs).collect()}
    assert r[0].token_cnt == 9
    assert r[0].distinct_cnt == 8  # "the" twice
    assert r[0].char_cnt == sum(len(w) for w in
                                "the quick brown fox jumps over the lazy dog".split())


def test_lang_id(docs):
    r = {x.doc_id: x for x in textops.lang_id(docs, threshold=0.1).collect()}
    assert r[0].guessed_lang == "en"   # "the" twice → 2/9 stopwords
    assert r[2].guessed_lang == "und"  # 0 stopwords
    assert r[0].en_hits == 2


def test_quality_score(docs):
    r = {x.doc_id: x for x in textops.quality_score(docs).collect()}
    assert 0.0 < r[0].quality <= 1.0
    assert r[0].ttr == pytest.approx(8 / 9)


def test_fingerprint_deterministic_and_distinct(docs):
    r = {x.doc_id: x.fingerprint for x in textops.fingerprint(docs).collect()}
    assert r[0] == r[3]          # identical text → identical fingerprint
    assert r[0] != r[2]
    assert all(0 <= v < textops.FP_MOD for v in r.values())


def test_exact_dedup(docs):
    groups = dedup.exact_dedup(docs).collect()
    by_n = sorted((g.n_docs, g.keep_id) for g in groups)
    assert by_n == [(1, 1), (1, 2), (1, 4), (2, 0)]  # docs 0&3 group, keep 0


def test_ngram_jaccard_and_minhash_agree(docs):
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert exact == lsh
    assert (0, 3) in exact and exact[(0, 3)] == 1.0   # exact dup
    assert (0, 1) in exact and 0.5 < exact[(0, 1)] < 1.0  # near dup
    assert (0, 2) not in exact


def test_containment_catches_subset_duplication(spark):
    # a short doc fully quoted inside a long one: resemblance ~ |A|/|B|
    # stays tiny but containment hits 1.0 — the d14 measure's reason
    # to exist (Broder 1997)
    long_words = " ".join(f"w{i}" for i in range(40))
    quote = " ".join(f"w{i}" for i in range(10, 18))
    rows = [(0, long_words), (1, quote),
            (2, "completely different words here now indeed")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {(r.doc_a, r.doc_b): (r.cont_a, r.cont_b, r.containment)
            for r in dedup.ngram_containment_pairs(
                df, threshold=0.9).collect()}
    jac = {(r.doc_a, r.doc_b)
           for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in cont
    ca, cb, c = cont[(0, 1)]
    assert cb == 1.0 and c == 1.0          # quote fully inside the long doc
    assert ca == pytest.approx(6 / 38)     # 6 of the long doc's 38 shingles
    assert (0, 1) not in jac               # resemblance misses the quote
    assert all(p == (0, 1) for p in cont)  # unrelated doc 2 untouched


def test_unicode_whitespace_tokenization_agrees(spark):
    # NBSP (\xa0) is whitespace to Python's str.split() but NOT to the
    # JVM/RE2 ASCII \s used by the exact paths; the UDF paths must
    # tokenize identically or minhash pairs silently diverge from the
    # exact-Jaccard oracle on real web text.
    rows = [
        (0, "alpha\xa0beta gamma delta epsilon zeta"),
        (1, "alpha\xa0beta gamma delta epsilon eta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # NBSP split apart
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.3).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.minhash_lsh_pairs(df, threshold=0.3).collect()}
    assert exact == lsh
    # with ASCII tokenization doc 0 and 2 differ in their first token,
    # so their jaccard must be < 1 on both paths
    assert exact.get((0, 2), 0.0) < 1.0


def test_simhash_matches_duckdb_oracle(spark):
    # the portable md5-60-bit simhash is the whole point: DuckDB must
    # reproduce the pairs bit-for-bit (this is the d04 oracle, run
    # here on a local corpus including Unicode-whitespace and empty
    # texts as regression guards)
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entry_mod

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dot"),
        (2, "totally unrelated content with many other words"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "alpha\xa0beta gamma"),
        (5, ""),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_pairs(df, hamming_max=3).collect()
    )
    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]
    ))
    want = sorted(map(tuple, con.execute(
        entry_mod._SIMHASH_SQL
    ).fetchall()))
    assert got == want
    assert (0, 3, 0) in got  # identical text → hamming 0


def test_simhash_pairs(docs):
    # the band pigeonhole guarantees recall only within hamming <= 3;
    # identical docs (hamming 0) must always be found
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_pairs(docs, hamming_max=3).collect()}
    assert pairs[(0, 3)] == 0     # identical text → identical simhash
    assert all(h <= 3 for h in pairs.values())
    assert (0, 2) not in pairs    # unrelated text stays out


@pytest.fixture(scope="module")
def emb(spark):
    import math
    rows = []
    for i in range(20):
        angle = (i % 10) * 0.3
        # pairs (i, i+10) point the same way → cosine 1 among them
        rows.append((i, [math.cos(angle), math.sin(angle)] + [0.0] * 62))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_topk_exact(emb):
    res = similarity.ann_topk(emb, k=1, query_filter=F.col("vec_id") == 0)
    top = res.collect()
    assert len(top) == 1
    assert top[0].neighbor_id == 10  # same direction as query 0


def test_ann_int8_quantization_and_recall(spark, emb):
    # quantization arithmetic: max|x| scales to ±127, round-half-up
    df = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.0, 0.25]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    q = {r.vec_id: r.q for r in df.select(
        "vec_id",
        similarity.quantize_int8_col(F.col("embedding")).alias("q"),
    ).collect()}
    # floor(-0.5/1*127+0.5) = floor(-63.0) = -63; 0.25 → floor(32.25)=32
    assert q[0] == [127, -63, 0, 32]
    assert q[1] == [0, 0, 0, 0]          # zero vector: scale guard

    # SQ8 ranks must agree with exact cosine on the well-separated
    # test corpus (quantization noise ≪ the 0.3-rad angular gaps);
    # the aligned twin (i, i+10) stays rank 1 in particular
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in similarity.ann_topk(emb, k=5).collect()}
    q8 = {(r.query_id, r.rank): r.neighbor_id
          for r in similarity.ann_topk_int8(emb, k=5).collect()}
    assert q8[(0, 1)] == 10
    overlap = sum(exact[k] == q8[k] for k in exact) / len(exact)
    assert overlap >= 0.8


def test_ann_lsh_subset_of_exact(emb):
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_topk(emb, k=20).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in similarity.ann_lsh_topk(emb, k=20, planes=2).collect()}
    assert approx  # buckets populated
    assert approx <= exact  # candidates are a subset of the full set


def test_neardup_pairs(emb):
    pairs = {(r.id_a, r.id_b) for r in
             similarity.neardup_pairs(emb, threshold=0.999).collect()}
    assert (0, 10) in pairs
    assert all(b - a == 10 for a, b in pairs)  # only aligned pairs


def test_neardup_bucketed_subset_of_exact(emb):
    # the banded-SRP scale path must be exact-verified: every emitted
    # pair appears in the exact all-pairs variant with the identical
    # cosine, and identical-direction pairs (cosine 1) are always
    # recalled (they collide in every band)
    exact = {(r.id_a, r.id_b): r.cosine for r in similarity.neardup_pairs(
        emb, threshold=0.45, bucketed=False).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine for r in similarity.neardup_pairs(
        emb, threshold=0.45, bucketed=True).collect()}
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    assert all((i, i + 10) in lsh for i in range(10))


def test_multimodal_decode(spark):
    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "")], "doc_id long, text string"
    )
    meta = {r.doc_id: r for r in multimodal.decode_media(
        multimodal.with_media_payload(docs)
    ).collect()}
    assert meta[1].n_bytes == 4
    assert meta[1].width == 16 + 4 % 624
    assert meta[1].height == 16 + (4 * 7) % 464
    assert meta[1].channels == 3
    assert meta[2].n_bytes == 0 and meta[2].frame_offsets == []


def test_real_decode_hook_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode_hook(b"\x89PNG", "image/png")


def test_ngram_jaccard_stop_shingle_cap(spark):
    # the df-cap guardrail: a stop-shingle shared by every doc is
    # pruned from index AND set sizes; near-dup pairs that share rare
    # shingles survive with the pruned-set jaccard
    rows = [(i, "common filler text here plus unique%d token%d extra%d"
             % (i % 2, i % 2, i % 2)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.doc_a, r.doc_b)
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()}
    capped = {(r.doc_a, r.doc_b)
              for r in dedup.ngram_jaccard_pairs(
                  df, threshold=0.9, max_shingle_df=4).collect()}
    # identical docs (0,2,4 / 1,3,5 groups) stay pairs under the cap
    assert {(0, 2), (0, 4), (2, 4), (1, 3), (1, 5), (3, 5)} <= capped
    assert capped <= exact


def test_media_resize_plan(spark):
    meta = spark.createDataFrame(
        [(1, 640, 480), (2, 100, 400), (3, 10, 10)],
        "doc_id long, width int, height int",
    )
    r = {x.doc_id: x for x in multimodal.resize_plan(meta, 224).collect()}
    assert (r[1].out_width, r[1].out_height) == (224, 168)
    assert (r[2].out_width, r[2].out_height) == (56, 224)
    assert (r[3].out_width, r[3].out_height) == (224, 224)


def test_media_frame_sample(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 10), (2, "abc"), (3, "")], "doc_id long, text string"
    )
    meta = multimodal.decode_media(multimodal.with_media_payload(docs))
    rows = multimodal.frame_sample(meta).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.offset, r.frame_len))
    # n=10 → stride 2 → 4 frames at 0,2,4,6, each len 2
    assert sorted(by_doc[1]) == [(0, 0, 2), (1, 2, 2), (2, 4, 2), (3, 6, 2)]
    # n=3 → stride 1 → frames at 0,1,2 len 1
    assert sorted(by_doc[2]) == [(0, 0, 1), (1, 1, 1), (2, 2, 1)]
    assert 3 not in by_doc  # empty payload → no frames


def test_tokenize_matches_duckdb_property():
    # property-based parity of the shared Python tokenizer with the
    # DuckDB oracle expression over adversarial unicode inputs
    # (NBSP, controls, emoji, mixed-case schemes of whitespace)
    duckdb = pytest.importorskip("duckdb")
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import assume, given, settings, strategies as st

    from hepcrawl_spark.operators.dedup import _tokenize

    con = duckdb.connect()

    @settings(max_examples=300, deadline=None)
    @given(st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("L", "N", "P", "S", "Z", "C"),
            exclude_characters="\x00",
        ),
        max_size=60,
    ))
    def check(text):
        # the property under test is the WHITESPACE/SPLIT contract.
        # lower() case MAPPINGS follow each engine's Unicode tables,
        # and those tables differ by engine version for recently
        # cased scripts (e.g. Vithkuqi U+10570ff., cased in Unicode
        # 14: Python 3.11 lowercases it, DuckDB's utf8proc does not
        # — found by this fuzz).  Skip inputs where the two case
        # tables disagree so the split semantics stay fully fuzzed;
        # the corpus contract documents the case-table seam.
        duck_lower = con.execute(
            "SELECT lower(?)", [text]
        ).fetchone()[0]
        assume(duck_lower == text.lower())
        got = _tokenize(text)
        want = con.execute(
            "SELECT regexp_split_to_array(regexp_replace(lower(?), "
            "'^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$', '', 'g'), "
            "'[ \\t\\n\\f\\r]+')", [text]
        ).fetchone()[0]
        assert got == want, repr(text)

    check()


def test_tokenize_three_way_adversarial(spark):
    # Spark JVM split, the Python UDF tokenizer, and the DuckDB oracle
    # must agree on the whitespace corner cases that \s-based
    # tokenization gets wrong across engines
    duckdb = pytest.importorskip("duckdb")

    from hepcrawl_spark.operators.dedup import _tokenize

    cases = [
        "", " ", "a b", "  a  b  ", "\ta\tb\t", "a\x0bb", "\x0b",
        "a\xa0b c", "\x1f", "a\nb\rc\fd", " \x0b ", "A B\tC",
        "　wide　space", "mix \xa0\x0b\t mix",
    ]
    tok = textops.tokens_col(F.col("t"))
    jvm = {r.t: list(r.toks) for r in spark.createDataFrame(
        [(c,) for c in cases], "t string"
    ).select("t", tok.alias("toks")).collect()}
    con = duckdb.connect()
    for c in cases:
        py = _tokenize(c)
        sql = con.execute(
            "SELECT regexp_split_to_array(regexp_replace(lower(?), "
            "'^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$', '', 'g'), "
            "'[ \\t\\n\\f\\r]+')", [c]
        ).fetchone()[0]
        assert jvm[c] == py == sql, repr(c)


def test_lang_id_multi(spark):
    rows = [
        (0, "the cat is on the roof and it is happy"),
        (1, "der hund ist nicht mit der katze im haus"),
        (2, "le chat est dans la maison pour la nuit"),
        (3, "el perro es un animal en la casa por la noche"),
        (4, "zxqv wkrp plgh mnty"),   # no function words → und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x.doc_id: x.guessed_lang
         for x in textops.lang_id_multi(df).collect()}
    assert r == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_ann_pq_full_rerank_equals_exact(emb):
    # with rerank >= corpus size the refine stage exact-scores every
    # candidate, so PQ/ADC becomes a pure shortlist generator and the
    # output must equal brute-force exactly (same tie-break: cosine
    # desc, neighbor asc)
    exact = [(r.query_id, r.rank, r.neighbor_id)
             for r in similarity.ann_topk(emb, k=5).collect()]
    pq = [(r.query_id, r.rank, r.neighbor_id)
          for r in similarity.ann_pq_topk(
              emb, k=5, m=8, kc=4, rerank=20).collect()]
    assert sorted(pq) == sorted(exact)


def test_ann_pq_recall_on_corpus(spark):
    # the driver-contract configuration (m=16, kc=16, rerank=100) on
    # the real 500×64-d table: recall@10 vs exact measured 0.97 this
    # round — pin a floor with margin so codebook-training drift shows
    embdf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_topk(embdf, k=10).collect()}
    pq = {(r.query_id, r.neighbor_id)
          for r in similarity.ann_pq_topk(embdf, k=10).collect()}
    assert len(pq) == len(exact)
    assert len(pq & exact) / len(exact) >= 0.9


def test_ann_pq_raw_adc_order(emb):
    # rerank=0 disables refine: ranks come from the ADC estimate and
    # every query still yields exactly k rows with ranks 1..k
    rows = similarity.ann_pq_topk(emb, k=3, m=8, kc=4, rerank=0).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


def test_ann_ivfpq_twin_recall_and_degenerate_exact(emb):
    # the aligned twin (i, i+10) shares the query's top cell, so even
    # aggressive cell pruning must recall it at rank 1 (the refine
    # stage scores it exactly at cosine 1)
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in similarity.ann_ivfpq_topk(
               emb, k=3, n_centroids=4, n_probe=2, m=8, kc=4,
               rerank=20).collect()}
    assert got[(0, 1)] == 10
    # probe-all + full rerank disables both approximations: the
    # composition must reproduce brute force exactly
    exact = [(r.query_id, r.rank, r.neighbor_id)
             for r in similarity.ann_topk(emb, k=5).collect()]
    full = [(r.query_id, r.rank, r.neighbor_id)
            for r in similarity.ann_ivfpq_topk(
                emb, k=5, n_centroids=4, n_probe=4, m=8, kc=4,
                rerank=20).collect()]
    assert sorted(full) == sorted(exact)


def test_ann_ivfpq_recall_floor_on_corpus(spark):
    # near-uniform synthetic vectors are cell pruning's worst case —
    # measured 0.59 at the driver default (32 cells, probe 8); pin a
    # floor with margin so centroid/codebook drift shows
    embdf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_topk(embdf, k=10).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in similarity.ann_ivfpq_topk(embdf, k=10).collect()}
    assert len(got) == len(exact)
    assert len(got & exact) / len(exact) >= 0.45


def test_ann_ivf_subset_of_exact(emb):
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_topk(emb, k=20).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in similarity.ann_ivf_topk(
               emb, k=20, n_centroids=4, n_probe=2).collect()}
    assert ivf                 # cells populated
    assert ivf <= exact        # exact-scored candidates only
    # the identical-direction neighbor shares the query's top cell, so
    # multi-probe IVF must always recall it
    assert (0, 10) in ivf


# --- dedup_clusters (connected components over near-dup pairs) -----------

def test_dedup_clusters_components(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    ).withColumn("text", F.lit(""))
    # components: {0,1,2} via chain 0-1, 1-2; {5,6}; singletons 3,4,7
    pairs = spark.createDataFrame(
        [(1, 0), (1, 2), (5, 6)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}


def test_dedup_clusters_chain_needs_iterations(spark):
    # a 6-node path graph: min label must propagate hop by hop, so this
    # exercises the convergence loop past a single round
    n = 6
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(docs, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_on_lsh_pairs(docs):
    # 0,3 exact dup (jaccard 1.0) cluster together; 1 differs in the
    # final token (jaccard 6/8 = 0.75 < 0.8) so it stays its own
    # cluster at this threshold
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8)
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4}


# --- asof_join ------------------------------------------------------------

def test_asof_join_semantics(spark):
    from hepcrawl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (2, 5, "a"), (3, 30, "a"), (4, 10, "b")],
        "id long, ts long, k string",
    )
    right = spark.createDataFrame(
        # k=a: updates at ts 5, 10, 20 (two at ts=10 → seq breaks tie)
        [(100, 5, "a", 1.0), (101, 10, "a", 2.0), (102, 10, "a", 3.0),
         (103, 20, "a", 4.0)],
        "rid long, ts long, k string, v double",
    )
    out = {r.id: r for r in asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["rid", "v"], right_seq="rid",
    ).collect()}
    assert out[2].asof_rid == 100          # only ts=5 precedes ts=5? ties include
    assert out[1].asof_rid == 102          # ts=10 tie → max rid wins
    assert out[1].asof_v == 3.0
    assert out[3].asof_rid == 103          # latest ≤ 30
    assert out[4].asof_rid is None         # no right rows for k=b
    assert set(out) == {1, 2, 3, 4}


def test_asof_join_single_shuffle_plan(spark):
    """Scale claim: the plan is union + one window — no join operator,
    no cartesian/range explosion."""
    from hepcrawl_spark.operators.joins import asof_join

    left = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"), F.col("id").alias("ts")
    )
    right = spark.range(50).select(
        (F.col("id") + 1000).alias("rid"), (F.col("id") % 5).alias("k"),
        (F.col("id") * 2).alias("ts"),
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["rid"], right_seq="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" in plan


# --- corpus_stats / stratified_sample ------------------------------------

def test_corpus_stats(spark):
    rows = [
        ("s0", "en", "one two three"),
        ("s0", "en", "four five"),
        ("s0", "de", "ein zwei"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    got = {(r.source, r.lang): r
           for r in textops.corpus_stats(df).collect()}
    en = got[("s0", "en")]
    assert (en.n_docs, en.total_tokens, en.min_tokens, en.max_tokens) == (2, 5, 2, 3)
    assert en.avg_tokens == 2.5
    assert en.total_chars == len("one two three") + len("four five")
    assert got[("s0", "de")].n_docs == 1


def test_stratified_sample_deterministic_and_rated(spark):
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    samp = textops.stratified_sample(df, rates={"en": 0.5, "de": 0.1})
    a = sorted(r.doc_id for r in samp.collect())
    b = sorted(r.doc_id for r in samp.collect())
    assert a == b  # same rows every run — no RNG state
    by_lang = {r.lang: r.n for r in samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(by_lang["en"] / 2000 - 0.5) < 0.05
    assert abs(by_lang.get("de", 0) / 2000 - 0.1) < 0.03
    # default rate 0.0 drops unknown strata entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert textops.stratified_sample(df2, rates={"en": 0.5}).count() == 0


def test_top_ngrams(spark):
    rows = [
        ("en", "a b a b c"),      # bigrams: "a b"×2, "b a", "b c"
        ("en", "a b"),            # +1 "a b"
        ("de", "x y"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = [(r.lang, r.ngram, r.n_occurrences, r.rank)
           for r in textops.top_ngrams(df, n=2, k=2)
           .orderBy("lang", "rank").collect()]
    assert got == [
        ("de", "x y", 1, 1),
        ("en", "a b", 3, 1),
        ("en", "b a", 1, 2),      # tie with "b c" → ngram asc wins
    ]


def test_gopher_quality_signals_and_verdict(spark):
    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    repetitive = "spam ham " * 40                # dup-bigram frac ~1
    short = "the tiny one"                       # < min_tokens
    symbols = ("the a " * 25) + "# " * 30        # symbol ratio > 0.1
    rows = [(0, good), (1, repetitive), (2, short), (3, symbols)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.gopher_quality(df).collect()}
    assert got[0].passes == 1
    assert got[1].passes == 0 and got[1].dup_bigram_frac > 0.9
    assert got[2].passes == 0 and got[2].token_cnt == 3
    assert got[3].passes == 0 and got[3].symbol_ratio > 0.1
    # signal sanity on the good doc
    assert got[0].alpha_frac == 1.0
    assert got[0].stopword_cnt >= 2
    assert 2.0 <= got[0].mean_word_len <= 12.0


def test_gopher_quality_pure_codegen(spark):
    # one scan pass, no Python eval of any flavor in the plan
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = textops.gopher_quality(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_clean_corpus_pipeline(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    rows = [
        (0, good),                 # survives
        (1, good),                 # exact dup of 0 -> dropped (min id wins)
        (2, "the tiny one"),       # fails gopher (short) -> dropped
        (3, good + " extra"),      # survives (distinct content)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in clean_corpus(df).collect()}
    assert sorted(got) == [0, 3]
    assert got[0].guessed_lang == "en"      # 6/50 stopwords >= 0.04
    assert got[0].token_cnt == 50
    # fingerprint matches the standalone operator on the same doc
    fp = {r.doc_id: r.fingerprint
          for r in textops.fingerprint(df).collect()}
    assert got[0].fingerprint == fp[0]
    assert got[3].fingerprint == fp[3]


def test_span_dupfrac(docs):
    # fixture spans (w=3): docs 0 and 3 are identical (9 tokens -> 7
    # spans, all duplicated); doc 1 shares its first 6 spans with
    # 0/3 ("the quick brown" ... "over the lazy") but not the last
    # ("the lazy cat"); docs 2 and 4 share nothing
    got = {r.doc_id: r for r in dedup.span_dupfrac(docs, w=3).collect()}
    assert got[0].span_cnt == 7 and got[0].dup_spans == 7
    assert got[0].dup_frac == 1.0
    assert got[3].dup_spans == 7
    assert got[1].span_cnt == 7 and got[1].dup_spans == 6
    assert got[1].dup_frac == round(6 / 7, 9)
    assert got[2].dup_spans == 0 and got[4].dup_spans == 0
    # within-doc repeats count toward corpus frequency
    rep = docs.sparkSession.createDataFrame(
        [(0, "a b c a b c"), (1, "x y z w v u")],
        "doc_id long, text string")
    r = {x.doc_id: x for x in dedup.span_dupfrac(rep, w=3).collect()}
    assert r[0].span_cnt == 4 and r[0].dup_spans == 2  # "a b c" twice
    assert r[1].dup_spans == 0
    # shorter than w -> zero spans, zero frac
    tiny = docs.sparkSession.createDataFrame(
        [(0, "a b")], "doc_id long, text string")
    t = dedup.span_dupfrac(tiny, w=3).collect()[0]
    assert t.span_cnt == 0 and t.dup_frac == 0.0
    # max_span_df drops stop-spans from the UNIVERSE (both counts):
    # "a b c" occurs 3x -> pruned at cap 2; "b c a"/"c a b" occur
    # 2x -> kept and duplicated; "c a x" unique -> kept, clean
    rep3 = docs.sparkSession.createDataFrame(
        [(0, "a b c a b c a b c"), (1, "x a b c y")],
        "doc_id long, text string")
    un = {r.doc_id: r for r in dedup.span_dupfrac(rep3, w=3).collect()}
    assert un[0].span_cnt == 7 and un[0].dup_spans == 7
    cap = {r.doc_id: r for r in
           dedup.span_dupfrac(rep3, w=3, max_span_df=2).collect()}
    # doc 0 spans: abc x3 (pruned), bca x2, cab x2 -> 4 kept, 4 dup
    assert cap[0].span_cnt == 4 and cap[0].dup_spans == 4
    # doc 1 spans: xab, abc (pruned), bcy -> 2 kept, 0 dup
    assert cap[1].span_cnt == 2 and cap[1].dup_spans == 0
    assert cap[1].dup_frac == 0.0


def test_pack_sequences_exact_layout(spark):
    from hepcrawl_spark.operators.corpus import pack_sequences

    # token counts: 3, 4, 5, 2, 6 -> exclusive prefix 0, 3, 7, 12, 14
    rows = [
        (10, "a b c"),
        (20, "a b c d"),
        (30, "a b c d e"),
        (40, "a b"),
        (50, "a b c d e f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    caches = []
    out = pack_sequences(df, capacity=8, caches=caches)
    got = {r.doc_id: r for r in out.collect()}
    release(caches)
    assert (got[10].seq_id, got[10].seq_offset) == (0, 0)
    assert (got[20].seq_id, got[20].seq_offset) == (0, 3)
    assert (got[30].seq_id, got[30].seq_offset) == (0, 7)  # straddles
    assert (got[40].seq_id, got[40].seq_offset) == (1, 4)
    assert (got[50].seq_id, got[50].seq_offset) == (1, 6)


def test_pack_sequences_matches_single_window(spark):
    # the two-phase prefix must equal the plain global-window cumsum
    # on a corpus large enough to span many range buckets
    from pyspark.sql import Window

    from hepcrawl_spark.operators.corpus import pack_sequences
    from hepcrawl_spark.operators.textops import tokens_col

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    caches = []
    out = pack_sequences(docs, capacity=512, caches=caches)
    got = {r.doc_id: (r.seq_id, r.seq_offset) for r in out.collect()}
    release(caches)
    ref = (
        docs.select(
            "doc_id",
            F.size(tokens_col(F.col("text"))).cast("long")
            .alias("token_cnt"))
        .withColumn("prev", F.coalesce(F.sum("token_cnt").over(
            Window.orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
        .select("doc_id",
                F.expr("prev div 512").alias("seq_id"),
                F.pmod("prev", F.lit(512)).cast("long")
                .alias("seq_offset"))
    )
    want = {r.doc_id: (r.seq_id, r.seq_offset) for r in ref.collect()}
    assert got == want


def test_unigram_logprob(spark):
    import math

    rows = [(0, "a a b"), (1, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # corpus counts: a=3, b=2, c=1, total=6
    got = {r.doc_id: r for r in
           textops.unigram_logprob(df).collect()}
    want0 = (2 * math.log(3 / 6) + math.log(2 / 6)) / 3
    want1 = (math.log(3 / 6) + math.log(2 / 6) + math.log(1 / 6)) / 3
    assert got[0].token_cnt == 3
    assert got[0].mean_logprob == round(want0, 6)
    assert got[1].mean_logprob == round(want1, 6)
    # common-token doc scores higher than rare-token doc
    assert got[0].mean_logprob > got[1].mean_logprob


def test_pack_sequences_count_col_preserves_columns(spark):
    from hepcrawl_spark.operators.corpus import (
        clean_corpus,
        pack_sequences,
    )

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    rows = [(0, good), (1, good), (2, good + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cleaned = clean_corpus(df)  # 0 survives (1 is a dup), 2 survives
    caches = []
    out = pack_sequences(cleaned, capacity=64, count_col="token_cnt",
                         caches=caches)
    got = {r.doc_id: r for r in out.collect()}
    release(caches)
    assert sorted(got) == [0, 2]
    # carried columns intact + layout over the CLEANED counts
    assert got[0].guessed_lang == "en"
    assert (got[0].seq_id, got[0].seq_offset) == (0, 0)
    assert (got[2].seq_id, got[2].seq_offset) == (0, 50)


def test_clean_corpus_full_pipeline(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    near = good.rsplit(" ", 1)[0] + " changed"   # near-dup of good
    other = " ".join(
        ("the" if i % 9 == 0 else f"tok{i}") for i in range(60)
    )
    rows = [
        (0, good),          # survives everything (cluster min)
        (1, good),          # exact dup -> dropped at p01
        (2, near),          # near-dup of 0 -> dropped at clustering
        (3, other),         # distinct -> survives
        (4, "the tiny"),    # fails gate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    caches = []
    out = clean_corpus_full(df, capacity=64, caches=caches)
    got = {r.doc_id: r for r in out.collect()}
    release(caches)
    assert sorted(got) == [0, 3]
    # packed layout over the kept set only: 0 at (0,0), 3 at (0,50)
    assert (got[0].seq_id, got[0].seq_offset) == (0, 0)
    assert (got[3].seq_id, got[3].seq_offset) == (0, 50)
    assert got[3].token_cnt == 60


def test_benchmark_contamination(spark):
    # 15-token docs; doc 0 shares its full text with the benchmark,
    # doc 1 shares a 13-token prefix span, doc 2 shares nothing,
    # doc 3 is too short to have any 13-gram
    base = " ".join(f"w{i}" for i in range(15))           # 3 grams
    prefix13 = " ".join(f"w{i}" for i in range(13))       # gram 1 only
    rows = [
        (0, base),
        (1, prefix13 + " zz yy"),     # grams: [w0..w12], [w1..zz], [w2..yy]
        (2, " ".join(f"v{i}" for i in range(20))),
        (3, "a b c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(base,)], "text string")
    got = {r.doc_id: r for r in
           dedup.benchmark_contamination(docs, bench, n=13).collect()}
    assert got[0].gram_cnt == 3 and got[0].hit_cnt == 3
    assert got[0].containment == 1.0 and got[0].contaminated
    assert got[1].gram_cnt == 3 and got[1].hit_cnt == 1
    assert got[1].containment == round(1 / 3, 9) and got[1].contaminated
    assert got[2].hit_cnt == 0 and not got[2].contaminated
    assert got[3].gram_cnt == 0 and got[3].containment == 0.0
    assert not got[3].contaminated
    # the filter half agrees, and min_hits raises the bar
    ids = {r.doc_id for r in
           dedup.contaminated_ids(docs, bench, n=13).collect()}
    assert ids == {0, 1}
    ids2 = {r.doc_id for r in
            dedup.contaminated_ids(docs, bench, n=13,
                                   min_hits=2).collect()}
    assert ids2 == {0}


def test_clean_corpus_full_decontaminates(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    good = " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(50)
    )
    other = " ".join(
        ("the" if i % 9 == 0 else f"tok{i}") for i in range(60)
    )
    rows = [(0, good), (1, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(" ".join(good.split()[10:25]),)], "text string"
    )  # a 15-token span of doc 0 sits in the eval set
    caches = []
    out = clean_corpus_full(df, capacity=64, benchmark=bench,
                            caches=caches)
    got = {r.doc_id: r for r in out.collect()}
    release(caches)
    # doc 0 is gate-clean but contaminated -> dropped; layout
    # re-packs over the survivor only
    assert sorted(got) == [1]
    assert (got[1].seq_id, got[1].seq_offset) == (0, 0)
    # without the benchmark both survive
    out2 = clean_corpus_full(df, capacity=64, caches=caches)
    got2 = sorted(r.doc_id for r in out2.collect())
    release(caches)
    assert got2 == [0, 1]


def test_classifier_score(spark):
    import math

    prose = "the cat sat on the mat and it was a good day for all of us"
    gibberish = " ".join(f"zxq{i}v" for i in range(16))
    df = spark.createDataFrame(
        [(0, prose), (1, gibberish)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in textops.classifier_score(df).collect()}
    assert got[0].cls_pass and not got[1].cls_pass
    assert got[0].cls_score > 0.5 > got[1].cls_score
    # the score IS the logistic of the mean hashed-bucket weight
    w = textops.default_quality_weights()
    import hashlib

    toks = prose.lower().split()
    mean = sum(
        w[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % len(w)]
        for t in toks
    ) / len(toks)
    assert got[0].cls_score == round(1 / (1 + math.exp(-mean)), 6)
    assert got[0].token_cnt == len(toks)
    # explicit weights/bias/threshold are honored
    flat = textops.classifier_score(
        df, weights=[0.0] * 8, bias=2.0, threshold=0.9
    ).collect()
    for r in flat:
        assert r.cls_score == round(1 / (1 + math.exp(-2.0)), 6)
        assert not r.cls_pass  # 0.880797 < 0.9


def test_clean_corpus_classifier_gate(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus

    # both docs pass the Gopher rules; only doc 0 is stopword-dense
    # enough to clear the classifier
    prose = " ".join(
        ("the" if i % 3 == 0 else f"word{i}") for i in range(60)
    )
    sparse = " ".join(
        ("the" if i % 25 == 0 else f"word{i}") for i in range(60)
    )
    df = spark.createDataFrame(
        [(0, prose), (1, sparse)], "doc_id long, text string"
    )
    base = sorted(r.doc_id for r in clean_corpus(df).collect())
    assert base == [0, 1]
    from hepcrawl_spark.operators.textops import default_quality_weights

    gated = sorted(
        r.doc_id
        for r in clean_corpus(
            df, classifier_weights=default_quality_weights()
        ).collect()
    )
    assert gated == [0]


def test_pii_scrub(spark):
    rows = [
        (0, "mail bob.smith+x@lab.example.org or 192.168.0.1 now"),
        (1, "call +44 20 7946 0958 twice: +44 20 7946 0958"),
        (2, "clean text, no identifiers at all"),
        (3, "a@b.io c@d.co 10.0.0.255"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.pii_scrub(df).collect()}
    assert (got[0].email_cnt, got[0].ipv4_cnt, got[0].phone_cnt) == (1, 1, 0)
    assert got[0].masked_text == "mail <EMAIL> or <IP> now"
    assert got[1].phone_cnt == 2
    assert got[1].masked_text == "call <PHONE> twice: <PHONE>"
    assert (got[2].email_cnt, got[2].ipv4_cnt, got[2].phone_cnt) == (0, 0, 0)
    assert got[2].masked_text == rows[2][1]
    assert got[3].email_cnt == 2 and got[3].ipv4_cnt == 1
    assert got[3].masked_text == "<EMAIL> <EMAIL> <IP>"


def test_dedup_lines(spark):
    rows = [
        (0, "nav bar\nreal content one\nnav bar\nreal content two\nnav bar"),
        (1, "only\nunique\nlines"),
        (2, "x\nx\nx\nx"),
        (3, "single line no breaks"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.dedup_lines(df).collect()}
    assert got[0].line_cnt == 5 and got[0].removed_cnt == 2
    assert got[0].cleaned_text == \
        "nav bar\nreal content one\nreal content two"
    assert got[1].removed_cnt == 0 and got[1].cleaned_text == rows[1][1]
    assert got[2].line_cnt == 4 and got[2].removed_cnt == 3
    assert got[2].cleaned_text == "x"
    assert got[3].line_cnt == 1 and got[3].removed_cnt == 0
    # min_line_len exempts short separator lines from dedup
    sep = spark.createDataFrame(
        [(0, "a\n\nb\n\na")], "doc_id long, text string"
    )
    r = textops.dedup_lines(sep, min_line_len=1).collect()[0]
    assert r.removed_cnt == 1                       # only the repeated "a"
    assert r.cleaned_text == "a\n\nb\n"


def test_srp_params_for_threshold_regimes():
    import math

    # production near-dup threshold lands in the sparse regime, never
    # the measured-quadratic r=4 the old fixed default ran (VERDICT r3)
    for tau in (0.8, 0.9, 0.95, 0.99):
        r, b = similarity.srp_params_for_threshold(tau)
        p = 1 - math.acos(tau) / math.pi
        assert 1 - (1 - p ** r) ** b >= 0.99        # theoretical recall
        if tau >= 0.9:
            assert r >= 8                           # sparse regime
            assert b * 0.5 ** r <= 0.06             # expected density
        assert r * b <= 192                         # plane budget
    # fixed-b variant: only r is derived, recall still clears at that b
    r, b = similarity.srp_params_for_threshold(0.9, n_bands=12)
    assert b == 12 and r >= 1
    p = 1 - math.acos(0.9) / math.pi
    assert 1 - (1 - p ** r) ** 12 >= 0.99


def test_neardup_default_banding_adapts_to_threshold(spark):
    # VERDICT r3 acceptance: planted tau=0.9 twins are recalled >= 0.99
    # through the DEFAULT API (no band_planes passed), with candidates
    # <= 6 % of all pairs — i.e. threshold=0.9 no longer runs the
    # dense r=4 regime.
    import numpy as np

    rng = np.random.default_rng(7)
    n, dim = 400, 64
    V = rng.standard_normal((n, dim))
    # every 10th vector gets a twin at cosine exactly 0.95
    # (orthogonalized perturbation, eps = sqrt(1/0.95^2 - 1))
    pick = np.arange(0, n, 10)
    eps = float(np.sqrt(1.0 / 0.95 ** 2 - 1.0))
    W = rng.standard_normal((len(pick), dim))
    Vp = V[pick]
    W -= (np.einsum("ij,ij->i", W, Vp)
          / np.einsum("ij,ij->i", Vp, Vp))[:, None] * Vp
    W *= (np.linalg.norm(Vp, axis=1)
          / np.linalg.norm(W, axis=1))[:, None] * eps
    rows = (
        [(int(i), [float(x) for x in v]) for i, v in enumerate(V)]
        + [(int(n + j), [float(x) for x in v])
           for j, v in enumerate(Vp + W)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {(int(i), int(n + j)) for j, i in enumerate(pick)}

    got = {(x.id_a, x.id_b)
           for x in similarity.neardup_pairs(df, threshold=0.9).collect()}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.99

    # candidate volume at the derived banding stays sparse
    r, b = similarity.srp_params_for_threshold(0.9)
    n_all = n + len(pick)
    cands = similarity.srp_candidate_pairs(
        df, band_planes=r, n_bands=b).count()
    assert cands / (n_all * (n_all - 1) // 2) <= 0.06


def test_span_rewrite(spark):
    rows = [
        (1, "a b c d e f"),   # shares "a b c" with doc 2
        (2, "a b c x y z"),
        (3, "q r s"),         # unique 3-gram, untouched
        (4, "m"),             # below span width
        (5, "p p p p"),       # within-doc repeat covers everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.span_rewrite(df, w=3).collect()}
    assert (got[1].removed_cnt, got[1].cleaned_text) == (3, "d e f")
    assert (got[2].removed_cnt, got[2].cleaned_text) == (3, "x y z")
    assert (got[3].removed_cnt, got[3].cleaned_text) == (0, "q r s")
    assert (got[4].removed_cnt, got[4].cleaned_text) == (0, "m")
    # within-doc repeats are position-level duplicates too (d07 rule)
    assert (got[5].removed_cnt, got[5].cleaned_text) == (4, "")
    assert got[5].token_cnt == 4
    # overlapping flagged spans merge: "a b c" (1,2) + "b c d"?? no —
    # min_count raised past every frequency leaves all text in place
    untouched = {r.doc_id: r.removed_cnt
                 for r in dedup.span_rewrite(df, w=3,
                                             min_count=9).collect()}
    assert set(untouched.values()) == {0}


def test_span_rewrite_stop_span_cap(spark):
    # one stop-span in every doc, plus a genuine pairwise dup; the
    # cap exempts the stop-span (boilerplate) but keeps the pair cut
    stop = "the of the"
    rows = [(i, f"{stop} u{i} v{i} w{i}") for i in range(6)]
    rows += [(6, f"{stop} same tail here"), (7, f"{stop} same tail here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {r.doc_id: r for r in
              dedup.span_rewrite(df, w=3, max_span_df=4).collect()}
    # the 8-occurrence stop-span is above the cap -> its tokens stay
    assert capped[0].removed_cnt == 0
    # docs 6/7 duplicate their whole text pairwise; the spans below
    # the cap (freq 2) cover tokens 1..5, token 0 is covered ONLY by
    # the exempted stop-span and survives
    assert capped[6].cleaned_text == "the" and capped[6].removed_cnt == 5
    uncapped = {r.doc_id: r for r in
                dedup.span_rewrite(df, w=3).collect()}
    # without the cap the stop-span region is cut everywhere
    assert uncapped[0].removed_cnt >= 3


def test_clean_corpus_full_span_rewrite(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus_full

    # the token right after the shared prefix differs per doc, so no
    # boundary-crossing span is duplicated and the cut is exactly the
    # 10 prefix tokens
    shared = " ".join(f"s{i}" for i in range(10))
    good = shared + " " + " ".join(
        ("the" if i % 9 == 0 else f"word{i}") for i in range(1, 41)
    )
    other = shared + " " + " ".join(
        ("the" if i % 9 == 0 else f"tok{i}") for i in range(1, 51)
    )
    rows = [(0, good), (1, other), (2, "the tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    caches = []
    out = clean_corpus_full(df, capacity=64, span_rewrite_w=3,
                            caches=caches)
    got = {r.doc_id: r for r in out.collect()}
    release(caches)
    assert sorted(got) == [0, 1]
    # the shared 10-token prefix is corpus-duplicated -> cut from both
    assert got[0].removed_cnt == 10 and got[1].removed_cnt == 10
    assert got[0].token_cnt == 40 and got[1].token_cnt == 50
    # packed layout runs over the POST-rewrite counts
    assert (got[0].seq_id, got[0].seq_offset) == (0, 0)
    assert (got[1].seq_id, got[1].seq_offset) == (0, 40)
    # fingerprint stays the PRE-rewrite lineage hash (matches p04's)
    base = clean_corpus_full(df, capacity=64, caches=caches)
    fps = {r.doc_id: r.fingerprint for r in base.collect()}
    release(caches)
    assert {d: r.fingerprint for d, r in got.items()} == fps


def test_mix_sample_rates_and_determinism(spark):
    from hepcrawl_spark.operators.corpus import mix_sample

    rows = [(i, f"s{i % 3}", "en" if i % 2 == 0 else "de")
            for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string")
    rates = {("s0", "en"): 1.0, ("s1", "en"): 0.5}
    out = mix_sample(df, rates, default_rate=0.0)
    got = {r.doc_id for r in out.collect()}
    # rate-1.0 shard keeps everything, rate-0 default keeps nothing
    s0_en = {i for i in range(600) if i % 3 == 0 and i % 2 == 0}
    s1_en = {i for i in range(600) if i % 3 == 1 and i % 2 == 0}
    assert got & s0_en == s0_en
    assert got <= s0_en | s1_en
    # the 0.5 shard keeps roughly half, and the draw is reproducible
    frac = len(got & s1_en) / len(s1_en)
    assert 0.3 < frac < 0.7
    assert {r.doc_id for r in out.collect()} == got


def test_temperature_rates_arithmetic():
    from hepcrawl_spark.operators.corpus import temperature_rates

    counts = {"big": 900, "small": 100}
    # tau=1 keeps natural proportions: every shard gets target_frac
    r1 = temperature_rates(counts, tau=1.0, target_frac=0.5)
    assert abs(r1["big"] - 0.5) < 1e-12 and abs(r1["small"] - 0.5) < 1e-12
    # tau>1 tilts mass toward the tail: small shard rate rises
    # (target_frac low enough that no rate clips at 1.0)
    r2 = temperature_rates(counts, tau=2.0, target_frac=0.2)
    assert r2["small"] > r2["big"]
    # kept mass proportions follow n^(1/tau): sqrt(900)/sqrt(100)=3
    kept_ratio = (900 * r2["big"]) / (100 * r2["small"])
    assert abs(kept_ratio - 3.0) < 1e-9
    # rates clip at 1.0
    r3 = temperature_rates(counts, tau=100.0, target_frac=1.0)
    assert r3["small"] == 1.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        temperature_rates(counts, tau=0.0)


def test_mix_quota_exact_counts(spark):
    from hepcrawl_spark.operators.corpus import mix_quota

    rows = [(i, f"s{i % 3}", "xx") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string")
    quotas = {("s0", "xx"): 7, ("s1", "xx"): 40}  # s1 quota > |s1|=30
    caches = []
    out = mix_quota(df, quotas, caches=caches)
    got = out.collect()
    release(caches)
    by_shard = {}
    for r in got:
        by_shard.setdefault(r.source, set()).add(r.doc_id)
    # exact quota; over-quota shard keeps all; unlisted keeps none
    assert len(by_shard["s0"]) == 7
    assert len(by_shard["s1"]) == 30
    assert "s2" not in by_shard
    # the draw is the md5 order, not "lowest ids win"
    assert by_shard["s0"] != {0, 3, 6, 9, 12, 15, 18}
    # deterministic across runs
    out2 = mix_quota(df, quotas, caches=caches)
    got2 = {(r.source, r.doc_id) for r in out2.collect()}
    release(caches)
    assert got2 == {(r.source, r.doc_id) for r in got}


def test_nb_train_then_score_separates(spark):
    # the full train -> gate loop: NB log-odds learned on labeled
    # prose-vs-gibberish, baked into classifier_score as literals,
    # must separate held-out docs of the same two kinds
    import random

    rng = random.Random(7)
    prose_vocab = ["the", "and", "of", "house", "river", "story",
                   "quiet", "morning", "light", "words"]
    junk_vocab = [f"zx{i}q" for i in range(40)]

    def doc(vocab):
        return " ".join(rng.choice(vocab) for _ in range(30))

    train = [(i, doc(prose_vocab), 1) for i in range(40)]
    train += [(100 + i, doc(junk_vocab), 0) for i in range(40)]
    tdf = spark.createDataFrame(
        train, "doc_id long, text string, label long"
    )
    wdf = textops.train_nb_weights(tdf)
    # per-bucket counts are exact: every prose token landed in a
    # positively-weighted bucket
    weights = textops.nb_weights_list(wdf)
    assert len(weights) == textops.CLS_BUCKETS
    held = [(i, doc(prose_vocab)) for i in range(20)]
    held += [(100 + i, doc(junk_vocab)) for i in range(20)]
    hdf = spark.createDataFrame(held, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textops.classifier_score(hdf, weights=weights).collect()}
    prose_scores = [got[i].cls_score for i in range(20)]
    junk_scores = [got[100 + i].cls_score for i in range(20)]
    assert min(prose_scores) > max(junk_scores)
    assert all(got[i].cls_pass for i in range(20))
    assert not any(got[100 + i].cls_pass for i in range(20))


def test_nb_weights_smoothing_and_spine(spark):
    # unseen buckets get the symmetric smoothed weight; the spine
    # always emits every bucket exactly once
    tdf = spark.createDataFrame(
        [(0, "aaa bbb", 1), (1, "ccc ddd", 0)],
        "doc_id long, text string, label long",
    )
    rows = textops.train_nb_weights(tdf, n_buckets=32).collect()
    assert sorted(r.bucket for r in rows) == list(range(32))
    import math
    untouched = [r for r in rows if r.n_pos == 0 and r.n_neg == 0]
    # ln((0+1)/(2+32)) - ln((0+1)/(2+32)) = 0 when classes balance
    assert untouched and all(r.weight == 0.0 for r in untouched)
    hit_pos = [r for r in rows if r.n_pos > 0 and r.n_neg == 0]
    want = round(math.log(2.0 / 34.0) - math.log(1.0 / 34.0), 6)
    assert hit_pos and all(abs(r.weight - want) < 1e-9
                           for r in hit_pos if r.n_pos == 1)


def test_dedup_lines_max_lines_guard(spark):
    import time

    # 100k-line adversarial doc: with the cap it passes through
    # unchanged (and fast); a small doc still dedups normally
    big = "\n".join(f"l{i % 997}" for i in range(100_000))
    df = spark.createDataFrame(
        [(0, big), (1, "a\nb\na")], "doc_id long, text string"
    )
    t0 = time.time()
    got = {r.doc_id: r for r in
           textops.dedup_lines(df, max_lines=10_000).collect()}
    elapsed = time.time() - t0
    assert got[0].capped and got[0].removed_cnt == 0
    assert got[0].cleaned_text == big
    assert got[0].line_cnt == 100_000
    assert not got[1].capped
    assert got[1].removed_cnt == 1 and got[1].cleaned_text == "a\nb"
    # O(L) pass-through, not 10^10 comparisons
    assert elapsed < 60
    # the default path's schema and behavior are untouched
    base = textops.dedup_lines(df.filter("doc_id = 1"))
    assert base.columns == ["doc_id", "line_cnt", "removed_cnt",
                            "cleaned_text"]


def test_dedup_lines_global(spark):
    # corpus-wide first occurrence (doc_id, line_idx) wins; later
    # docs lose their copies of shared boilerplate
    rows = [
        (0, "cookie banner\nalpha\ncookie banner"),
        (1, "cookie banner\nbeta"),
        (2, "cookie banner\nalpha"),
        (3, "gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textops.dedup_lines_global(df).collect()}
    # doc 0 owns the first "cookie banner" AND the first "alpha";
    # its own second "cookie banner" is a later occurrence too
    assert got[0].line_cnt == 3 and got[0].removed_cnt == 1
    assert got[0].cleaned_text == "cookie banner\nalpha"
    assert got[1].removed_cnt == 1 and got[1].cleaned_text == "beta"
    assert got[2].removed_cnt == 2 and got[2].cleaned_text == ""
    assert got[3].removed_cnt == 0 and got[3].cleaned_text == "gamma"
    # every doc survives in the output even when fully emptied
    assert set(got) == {0, 1, 2, 3}


def test_dedup_lines_global_min_line_len(spark):
    # blank separators are exempt: they stay in EVERY doc instead of
    # collapsing to one global survivor
    rows = [(0, "a\n\nb"), (1, "c\n\nd"), (2, "a\n\nd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textops.dedup_lines_global(df, min_line_len=1).collect()}
    assert got[0].cleaned_text == "a\n\nb"
    assert got[1].cleaned_text == "c\n\nd"
    assert got[2].removed_cnt == 2 and got[2].cleaned_text == ""
    # without the exemption the blank line would survive once only
    strict = {r.doc_id: r for r in
              textops.dedup_lines_global(df).collect()}
    assert strict[0].cleaned_text == "a\n\nb"
    # doc 1 loses only its blank (doc 0 owns the first blank line)
    assert strict[1].removed_cnt == 1 and strict[1].cleaned_text == "c\nd"


def test_badwords_gate(spark):
    rows = [
        (0, "clean prose about spark tables"),
        (1, "this has one badword in it"),
        (2, "badword badword badword"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textops.badwords_gate(df, ["badword"]).collect()}
    assert got[0].keep and got[0].bad_cnt == 0
    assert not got[1].keep and got[1].bad_cnt == 1
    assert not got[2].keep and got[2].bad_cnt == 3
    assert got[2].bad_frac == 1.0
    # empty text: zero tokens is not a banned-word hit
    assert got[3].keep and got[3].bad_frac == 0.0
    # softened variant: tolerate up to 20% banned tokens
    soft = {r.doc_id: r for r in
            textops.badwords_gate(df, ["badword"],
                                  max_frac=0.2).collect()}
    assert soft[1].keep          # 1/6 < 0.2
    assert not soft[2].keep      # 3/3 > 0.2


def test_clean_corpus_badwords_gate(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus

    # both docs pass the Gopher rules; doc 1 contains a banned word
    clean = " ".join(
        ("the" if i % 3 == 0 else f"word{i}") for i in range(60)
    )
    dirty = clean + " verboten"
    df = spark.createDataFrame(
        [(0, clean), (1, dirty)], "doc_id long, text string"
    )
    base = sorted(r.doc_id for r in clean_corpus(df).collect())
    assert base == [0, 1]
    gated = sorted(
        r.doc_id
        for r in clean_corpus(df, badwords=["verboten"]).collect()
    )
    assert gated == [0]
    # tolerant variant: 1 banned token out of 61 clears a 5% cap
    soft = sorted(
        r.doc_id
        for r in clean_corpus(
            df, badwords=["verboten"], badwords_max_frac=0.05
        ).collect()
    )
    assert soft == [0, 1]


def test_repetition_quality_signals(spark):
    # hand-computed Gopher repetition battery (t19)
    rows = [
        (1, "a b c d e f g h i j"),       # clean: top bigram 2/10
        (2, "x y\nx y\nx y\nz w"),        # 2 repeat lines of 4
        (3, "a b a b a b a b a b a b"),   # every bigram repeats
        (5, ""),                          # degenerate empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in textops.repetition_quality(df).collect()
    }
    assert out[1].passes == 1 and out[1].top_2gram_char_frac == 0.2
    # doc 2: rep lines 2/4, rep chars 6 of 12 line chars, "x y"
    # bigram covers 3 occurrences x 2 chars of 8 token chars
    assert out[2].dup_line_frac == 0.5
    assert out[2].dup_line_char_frac == 0.5
    assert out[2].top_2gram_char_frac == 0.75
    assert out[2].passes == 0
    # doc 3: "a b" occurs 6 times x 2 chars / 12 token chars
    assert out[3].top_2gram_char_frac == 1.0
    # overlapping 5-gram repeats: 12-grams -> 8 g5, 6 repeats x 5
    # token-chars / 12 token chars
    assert out[3].dup_5gram_char_frac == 2.5
    assert out[3].passes == 0
    # empty doc: single empty line, zero chars everywhere, passes
    assert out[5].line_cnt == 1 and out[5].passes == 1


def test_c4_line_filter_rules(spark):
    # each C4 rule in isolation (t20)
    rows = [
        (1, "one two three four five.\nsix seven eight nine ten!\n"
            "good words eleven twelve?"),           # 3 kept -> page ok
        (2, "no terminal punctuation here\nshort."  # punct + words
            "\nthe javascript line stays out."),    # substring rule
        (3, "braces are fine in lines.\nbut the page has { a brace.\n"
            "so the page flag drops here."),        # page brace rule
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in textops.c4_line_filter(
        df, min_words=4, min_lines=2).collect()}
    assert (out[1].line_cnt, out[1].kept_cnt, out[1].page_ok) == (3, 3, 1)
    assert out[1].cleaned_text.count("\n") == 2
    # doc 2: line 1 lacks punctuation, line 2 is short, line 3 has
    # "javascript" -> nothing survives, page fails the min_lines rule
    assert (out[2].kept_cnt, out[2].page_ok) == (0, 0)
    assert out[2].cleaned_text == ""
    # doc 3: all three lines pass the LINE rules but the page brace
    # kills the page verdict
    assert (out[3].kept_cnt, out[3].page_ok) == (3, 0)


def test_ccnet_buckets_separate_fluent_from_gibberish(spark):
    # fluent docs reuse high-frequency tokens; gibberish docs carry
    # corpus-unique tokens -> lowest unigram logprob -> tail bucket
    rows = []
    for i in range(9):
        rows.append((i, "the cat sat on the mat again today", "en"))
    for i in range(9, 12):
        rows.append((i, f"qz{i}x wv{i}k jj{i}m zzq{i} xxo{i} ppl{i}",
                     "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in textops.ccnet_buckets(
        df, sample_bps=0x10000).collect()}  # full sample
    assert all(out[i].bucket == 3 for i in range(9, 12))
    assert all(out[i].bucket <= 2 for i in range(9))
    # a language with no sampled rows defaults to the head bucket
    df2 = df.withColumn(
        "lang", F.when(F.col("doc_id") == 0, "zz").otherwise("en"))
    out2 = {r.doc_id: r for r in textops.ccnet_buckets(
        df2, sample_bps=0).collect()}  # empty sample everywhere
    assert all(r.bucket == 1 for r in out2.values())


def test_p11_oracle_shares_c4_and_p01_sql():
    # the p11 mirror must embed the t20 CTEs and the p01 body
    # byte-identically — shared-constant construction, no drift
    import __spark_entry__ as em
    o = em.oracle_sql()
    assert em._C4_CTES in o["t20_c4_filter"]
    assert em._C4_CTES in o["p11_clean_c4"]
    assert "AS toks FROM c4_docs" in o["p11_clean_c4"]
    # p01's gate/dedup tail is present verbatim after the source swap
    tail = em._P01_SQL_TMPL.format(extra_gate="").split(
        "AS toks FROM documents", 1)[1]
    assert tail in o["p11_clean_c4"]


def test_cross_corpus_dedup_flags(spark):
    ref = spark.createDataFrame([
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "completely different reference material lives here now"),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        # exact copy of ref 100
        (1, "the quick brown fox jumps over the lazy dog today"),
        # near-dup of ref 100 (one token changed at the end)
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        # genuinely new
        (3, "spark engines shuffle partitions across executors quickly"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.cross_corpus_dedup(
        new, ref, threshold=0.5).collect()}
    assert out[1].exact_dup == 1 and out[1].keep == 0
    assert out[1].max_jaccard == 1.0
    assert out[2].exact_dup == 0 and out[2].near_cnt >= 1
    assert 0.5 <= out[2].max_jaccard < 1.0 and out[2].keep == 0
    assert out[3] == (3, 0, 0, 0.0, 1)
    # the stop-shingle cap prunes by REFERENCE document frequency:
    # cap 0 removes every shingle -> only the exact path can fire
    capped = {r.doc_id: r for r in dedup.cross_corpus_dedup(
        new, ref, threshold=0.5, max_shingle_df=0).collect()}
    assert capped[2].near_cnt == 0 and capped[1].exact_dup == 1


def test_normalize_punct_folds_web_punctuation(spark):
    rows = [
        (1, "“quoted” – and spaced… done"),
        (2, "already plain ascii."),
        (3, "tabs\tand\nnewlines   collapse"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in textops.normalize_punct(df).collect()}
    assert out[1].norm_text == '"quoted" - and spaced... done'
    assert out[1].changed == 1
    assert out[2].norm_text == "already plain ascii."
    assert out[2].changed == 0
    assert out[3].norm_text == "tabs and newlines collapse"
    # the normalized text tokenizes identically to the raw text
    # modulo the folded punctuation — NBSP becomes a real separator
    toks = textops.token_stats(
        textops.normalize_punct(df).withColumnRenamed(
            "norm_text", "text")
    ).collect()
    assert {r.doc_id: r.token_cnt for r in toks}[1] == 5


def test_chunk_documents_windows(spark):
    ten = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, ten), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    # disjoint windows of 4: 10 tokens -> chunks at 0,4,8 (sizes 4,4,2)
    out = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_tokens,
         r.chunk_text)
        for r in textops.chunk_documents(df, max_tokens=4).collect()
    )
    assert [(c[1], c[2], c[3]) for c in out if c[0] == 1] == [
        (0, 0, 4), (1, 4, 4), (2, 8, 2)]
    assert [c for c in out if c[0] == 1][0][4] == "w0 w1 w2 w3"
    # a short doc and even the empty doc yield exactly one chunk
    assert [(c[3], c[4]) for c in out if c[0] == 2] == [(2, "short doc")]
    assert len([c for c in out if c[0] == 3]) == 1
    # overlapping stride: windows at 0,3,6 cover with overlap
    ov = sorted(
        (r.chunk_start, r.chunk_tokens)
        for r in textops.chunk_documents(
            df.where("doc_id = 1"), max_tokens=4, stride=3).collect()
    )
    assert ov == [(0, 4), (3, 4), (6, 4)]
    # chunks re-pack: total chunk tokens with disjoint stride equals
    # the document's token count
    tot = sum(c[3] for c in out if c[0] == 1)
    assert tot == 10


def test_p12_oracle_shares_t21_sql():
    import __spark_entry__ as em
    o = em.oracle_sql()
    assert o["t21_ccnet_buckets"] == em._CCNET_SQL
    assert em._CCNET_SQL in o["p12_ccnet_pack"]
    assert "bucket <= 2" in o["p12_ccnet_pack"]


def test_dsir_weights_separate_target_from_offtarget(spark):
    # t24: docs written in the target sample's vocabulary must score
    # positive importance weight; docs in a disjoint vocabulary
    # negative.  Target membership is the md5 bucket of the id —
    # computed here independently so the test also pins the sampling
    # contract.
    import hashlib

    def is_tgt(i, bps):
        h = hashlib.md5(f"{i}:dsir".encode()).hexdigest()[:4]
        return int(h, 16) < bps

    bps = 0x8000  # 50% target so both vocabularies are well sampled
    rows = []
    for i in range(40):
        if is_tgt(i, bps):
            rows.append((i, "the cat sat on the mat and purred"))
        else:
            rows.append((i, "qzx wvk jjm zzq xxo ppl grb mnw"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           textops.dsir_weights(df, target_bps=bps).collect()}
    assert len(out) == 40
    for i in range(40):
        assert out[i].is_target == is_tgt(i, bps)
        if is_tgt(i, bps):
            assert out[i].dsir_weight > 0, i
        else:
            assert out[i].dsir_weight < 0, i
    # weights are a corpus-level model: every doc sharing a
    # vocabulary gets the identical score
    tgt_w = {out[i].dsir_weight for i in range(40) if is_tgt(i, bps)}
    off_w = {out[i].dsir_weight for i in range(40) if not is_tgt(i, bps)}
    assert len(tgt_w) == 1 and len(off_w) == 1


def test_fix_mojibake_folds_artifacts_and_counts(spark):
    rows = [
        (1, "itâ€™s â€œquotedâ€œ and Ã©lÃ©gant â€“ done"),
        (2, "clean ascii stays clean."),
        (3, "Ã©Ã©Ã©"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in textops.fix_mojibake(df).collect()}
    assert out[1].text_fixed == "it’s “quoted“ and élégant – done"
    # â€™ + 2×â€œ + 2×Ã© + â€“ = 6 artifact occurrences
    assert out[1].mojibake_hits == 6
    assert out[2].text_fixed == rows[1][1]
    assert out[2].mojibake_hits == 0
    # adjacent repeats each count
    assert out[3].text_fixed == "ééé" and out[3].mojibake_hits == 3


def test_fix_mojibake_plan_is_single_projection(spark):
    df = textops.fix_mojibake(
        spark.createDataFrame([(1, "x")], "doc_id long, text string")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_curate_hosts_verdicts_and_filter(spark):
    from hepcrawl_spark.operators import corpus

    rows = (
        # judged + majority bad -> blocked (4/6 = 66% > 50%)
        [(i, "a.com", 1 if i < 4 else 0) for i in range(6)]
        # judged + exactly half bad -> kept (3*100 <= 50*6, strict >)
        + [(10 + i, "b.com", 1 if i < 3 else 0) for i in range(6)]
        # all bad but below min_docs -> unjudged, never blocked
        + [(20 + i, "c.com", 1) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, host string, bad int")
    v = {r.host: r for r in corpus.curate_hosts(df).collect()}
    assert v["a.com"].blocked == 1 and v["a.com"].bad_docs == 4
    assert v["b.com"].blocked == 0
    assert v["c.com"].blocked == 0 and v["c.com"].docs == 4
    kept = corpus.host_filter(df, corpus.curate_hosts(df))
    hosts = {r.host for r in kept.collect()}
    assert hosts == {"b.com", "c.com"}
    assert kept.count() == 10
    # the verdict side broadcasts — the corpus never shuffles
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_p13_oracle_shares_hostcur_and_p01_sql():
    # the p13 mirror must embed f23's host-curation CTEs and the p01
    # body byte-identically — shared-constant construction, no drift
    import __spark_entry__ as em
    o = em.oracle_sql()
    assert em._HOSTCUR_CTES in o["f23_curate_hosts"]
    assert em._HOSTCUR_CTES in o["p13_host_curated_clean"]
    assert "AS toks FROM curated" in o["p13_host_curated_clean"]
    tail = em._P01_SQL_TMPL.format(extra_gate="").split(
        "AS toks FROM documents", 1)[1]
    assert tail in o["p13_host_curated_clean"]


def test_sniff_mime_magic_table_and_spoof_metering(spark):
    rows = [
        (1, bytes.fromhex("89504E47") + b"rest"),       # png
        (2, bytes.fromhex("FFD8FF") + b"\x01jpeg"),     # 3-byte prefix
        (3, bytes.fromhex("1F8B") + b"gz"),             # 2-byte prefix
        (4, b"%PDF-1.7 ..."),                            # ascii magic
        (5, b"plain text, no magic"),
        (6, b""),                                        # empty payload
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r.doc_id: r.sniffed_type
           for r in multimodal.sniff_mime(df).collect()}
    assert out[1] == "image/png"
    assert out[2] == "image/jpeg"
    assert out[3] == "application/gzip"
    assert out[4] == "application/pdf"
    assert out[5] == "application/octet-stream"
    assert out[6] == "application/octet-stream"
    # spoof metering: claimed type survives next to the sniffed one
    spoofed = multimodal.sniff_mime(
        df.withColumn("media_type", F.lit("image/png"))
    ).where(F.col("media_type") != F.col("sniffed_type"))
    assert spoofed.count() == 5


def test_sniff_mime_plan_is_python_free(spark):
    df = multimodal.sniff_mime(
        spark.createDataFrame([(1, b"x")], "doc_id long, media binary")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# round-5 session additions: entropy, splits, bigram LM, DSIR select,
# quality-aware cluster representatives
# ---------------------------------------------------------------------------

def test_char_entropy_values(spark):
    rows = [
        (0, "abracadabra"),            # H = 2.040373 over 11 chars
        (1, "a" * 100),                # zero entropy, above the floor
        (2, ""),                       # no chars: NULL entropy
        (3, "ab"),                     # short: low entropy but exempt
        (4, "the quick brown fox jumps over the lazy dog " * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x.doc_id: x for x in textops.char_entropy(df).collect()}
    assert r[0].entropy == pytest.approx(2.040373)
    assert r[0].char_cnt == 11 and r[0].distinct_chars == 5
    assert r[1].entropy == 0.0 and r[1].low_entropy == 1
    assert r[2].entropy is None and r[2].low_entropy == 0
    assert r[3].low_entropy == 0          # below the evidence floor
    assert r[4].entropy > 3.0 and r[4].low_entropy == 0


def test_char_entropy_prefix_cap(spark):
    # beyond max_chars the sample stops: a doc whose tail would raise
    # the entropy scores exactly like its prefix
    base = "x" * 50
    df = spark.createDataFrame(
        [(0, base), (1, base + "completely different tail text")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in
         textops.char_entropy(df, max_chars=50).collect()}
    assert r[0].entropy == r[1].entropy == 0.0
    assert r[1].char_cnt == 50


def test_assign_splits_deterministic_and_growth_stable(spark):
    from hepcrawl_spark.operators.corpus import assign_splits
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    big = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.split
           for r in assign_splits(big, fr).collect()}
    # every doc in exactly one named split, all three populated
    assert set(got.values()) == {"train", "val", "test"}
    n_train = sum(1 for s in got.values() if s == "train")
    assert 0.7 * 400 < n_train < 0.9 * 400
    # growth stability: the assignment of a doc never changes when
    # the corpus shrinks/grows (the anti-shuffle-split property)
    small = big.where(F.col("doc_id") < 50)
    sub = {r.doc_id: r.split
           for r in assign_splits(small, fr).collect()}
    assert sub == {k: v for k, v in got.items() if k < 50}


def test_assign_splits_rejects_single_split(spark):
    from hepcrawl_spark.operators.corpus import split_bounds
    with pytest.raises(ValueError):
        split_bounds({"train": 1.0})


def test_bigram_logprob_hand_values(spark):
    import math
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "solo")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in textops.bigram_logprob(df).collect()}
    # corpus: big (a,b)=3, (b,a)=1; ctx a=3, b=1; uni a=3 b=3 solo=1,
    # total 7
    exp1 = math.log(0.75 * (3 / 3) + 0.25 * (3 / 7))
    assert r[1].bigram_cnt == 1
    assert r[1].mean_logprob == pytest.approx(round(exp1, 6))
    exp0 = (2 * math.log(0.75 * (3 / 3) + 0.25 * (3 / 7))
            + math.log(0.75 * (1 / 1) + 0.25 * (3 / 7))) / 3
    assert r[0].mean_logprob == pytest.approx(exp0, abs=1e-6)
    assert 2 not in r                      # one token: no pairs


def test_bigram_logprob_separates_scrambled(spark):
    # fluent repetition scores higher than the same tokens scrambled —
    # the order sensitivity unigram_logprob cannot see
    fluent = "the cat sat on the mat and the dog sat on the rug"
    scrambled = "mat the on dog sat rug the cat the and on sat the"
    df = spark.createDataFrame(
        [(i, fluent) for i in range(6)] + [(6, scrambled)],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in textops.bigram_logprob(df).collect()}
    assert r[0].mean_logprob > r[6].mean_logprob


def test_kn_bigram_hand_values(spark):
    import math
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "solo")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in textops.kn_bigram_logprob(df).collect()}
    # corpus bigrams: (a,b)x3, (b,a)x1 -> types: (a,b),(b,a); B=2
    # ctx a: ccnt=3 fanout=1; ctx b: ccnt=1 fanout=1
    # cont b: lctx=1; cont a: lctx=1  -> P_cont = 1/2 each
    d = 0.75
    p_ab = (3 - d) / 3 + d * 1 / 3 * (1 / 2)
    p_ba = (1 - d) / 1 + d * 1 / 1 * (1 / 2)
    assert r[1].bigram_cnt == 1
    assert r[1].mean_logprob_kn == pytest.approx(
        round(math.log(p_ab), 6))
    exp0 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert r[0].mean_logprob_kn == pytest.approx(exp0, abs=1e-6)
    assert 2 not in r                      # one token: no pairs


def test_kn_bigram_separates_scrambled(spark):
    # same order-sensitivity property as t30, through the KN backoff
    fluent = "the cat sat on the mat and the dog sat on the rug"
    scrambled = "mat the on dog sat rug the cat the and on sat the"
    df = spark.createDataFrame(
        [(i, fluent) for i in range(6)] + [(6, scrambled)],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in textops.kn_bigram_logprob(df).collect()}
    assert r[0].mean_logprob_kn > r[6].mean_logprob_kn
    # interpolated KN over observed pairs is a proper probability
    assert all(x.mean_logprob_kn <= 0.0 for x in r.values())


def test_dsir_select_topk(spark):
    docs = spark.createDataFrame(
        [(i, ("the quality corpus prose " * (1 + i % 3)).strip())
         for i in range(60)],
        "doc_id long, text string",
    )
    sel = textops.dsir_select(docs, k=10).collect()
    assert len(sel) == 10
    keys = [r.gumbel_key for r in sel]
    assert keys == sorted(keys, reverse=True)
    # selected ids are a subset of the scored universe and stable
    again = textops.dsir_select(docs, k=10).collect()
    assert [r.doc_id for r in sel] == [r.doc_id for r in again]


def test_cluster_representatives_keeps_best(spark):
    base = "the quick brown fox jumps over the lazy"
    rows = [
        (0, base + " dog"),
        (1, base + " dog indeed and verily with many extra tokens"),
        (2, base + " dog"),
        (3, "unrelated text entirely different words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    quality = textops.token_stats(docs).select(
        "doc_id", F.col("token_cnt").alias("quality"))
    r = {x.doc_id: x for x in dedup.cluster_representatives(
        docs, pairs, quality).collect()}
    cluster = {x.cluster_id for i, x in r.items() if i in (0, 1, 2)}
    assert cluster == {0}                  # one component, min-id label
    kept = [i for i, x in r.items() if x.kept == 1]
    # doc 1 (longest) wins its cluster; singleton 3 always kept
    assert sorted(kept) == [1, 3]


def test_phash_media_deterministic_and_exact_dup(spark):
    rows = [
        (0, b"the quick brown fox jumps over the lazy dog"),
        (1, b"the quick brown fox jumps over the lazy dog"),
        (2, b"completely different byte content right here"),
        (3, b""),
    ]
    media = spark.createDataFrame(
        [(i, m, "image/fake") for i, m, in
         [(r[0], r[1]) for r in rows]],
        "doc_id long, media binary, media_type string",
    )
    r = {x.doc_id: x for x in multimodal.phash_media(media).collect()}
    assert 3 not in r                       # empty payload excluded
    assert r[0].phash == r[1].phash         # identical bytes
    assert r[0].phash != r[2].phash
    assert 0 <= r[0].phash < 2 ** 60        # 60-bit, sign untouched


def test_phash_pairs_exact_within_ball(spark):
    # brute-force ground truth: the band-pigeonhole join must equal
    # the full O(n^2) Hamming filter at radius <= 3 (pigeonhole over
    # 4 bands is exact there)
    import itertools
    base = b"abcdefghijklmnopqrstuvwxyz0123456789 payload bytes!"
    payloads = [base]
    for k in (1, 7, 25, 49):                # few-byte perturbations
        b2 = bytearray(base)
        b2[k] = (b2[k] + 3) % 256
        payloads.append(bytes(b2))
    payloads.append(b"utterly unrelated content with other bytes....")
    media = spark.createDataFrame(
        [(i, p, "image/fake") for i, p in enumerate(payloads)],
        "doc_id long, media binary, media_type string",
    )
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in multimodal.phash_pairs(media, hamming_max=3)
           .collect()}
    hashes = {r.doc_id: r.phash
              for r in multimodal.phash_media(media).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(hashes), 2):
        h = bin(hashes[a] ^ hashes[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want and len(want) > 0


def test_score_sample_rate_follows_score(spark):
    # high-scoring prose survives at ~its score rate; the sampler is
    # deterministic and survivor scores are the t12 scores
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat and the story was good")
         for i in range(300)],
        "doc_id long, text string",
    )
    kept = textops.score_sample(docs).collect()
    score = kept[0].cls_score
    assert all(r.cls_score == score for r in kept)
    # binomial(300, score): expect within ~5 sigma
    import math
    exp, sd = 300 * score, math.sqrt(300 * score * (1 - score))
    assert abs(len(kept) - exp) < 5 * max(sd, 1.0)
    again = textops.score_sample(docs).collect()
    assert sorted(r.doc_id for r in kept) == \
        sorted(r.doc_id for r in again)


def test_clean_corpus_entropy_gate_drops_gibberish(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus
    prose = ("the house by the river was quiet in the morning and "
             "a pale light crossed the garden where the last words "
             "of the story settled against the window while data "
             "engines turned somewhere far away and winter letters "
             "arrived from the stone field carrying news of clouds "
             "and of the slow bright water under the old bridge")
    docs = spark.createDataFrame(
        [(0, prose), (1, "ab " * 80), (2, prose + " extra tail")],
        "doc_id long, text string",
    )
    base = {r.doc_id for r in clean_corpus(docs).collect()}
    assert {0, 2} <= base, base     # prose passes the Gopher gate
    gated = {r.doc_id
             for r in clean_corpus(docs, min_entropy=2.0).collect()}
    assert {0, 2} <= gated
    assert 1 not in gated           # entropy kills the gibberish
    assert gated == base - {1} or gated == base


def test_clean_corpus_full_keep_best_rule(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus_full
    prose = ("the house by the river was quiet in the morning and "
             "a pale light crossed the garden where the last words "
             "of the story settled against the window while data "
             "engines turned somewhere far away and winter letters "
             "arrived from the stone field carrying news of clouds")
    rows = [
        (0, prose),                          # near-dup cluster min id
        (1, prose + " over the bright water"),  # longest member
                                             # (small tail keeps the
                                             # 3-gram jaccard >= 0.8)
        (2, prose),                          # exact dup of 0 (drops
                                             # at the exact stage)
        (3, "an entirely different account of the city spoke of "
            "markets and trains and the iron sound of evening bells "
            "over the harbor while sailors counted their quiet coins "
            "beneath the lamps and wrote long letters home about "
            "storms they had not seen and roads they had not taken"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    caches = []
    p04 = clean_corpus_full(docs, capacity=512, caches=caches)
    kept_min = {r.doc_id for r in p04.collect()}
    release(caches)
    p16 = clean_corpus_full(docs, capacity=512, keep_best=True,
                            caches=caches)
    kept_best = {r.doc_id for r in p16.collect()}
    release(caches)
    assert kept_min == {0, 3}        # min-id rule keeps doc 0
    assert kept_best == {1, 3}       # best rule keeps the longest


def test_autothrottle_delays_rules_and_schedule_integration(spark):
    from hepcrawl_spark.frontier.politeness import (
        autothrottle_delays,
        schedule,
    )
    rows = [
        # fast healthy host: mean 400ms / tc 2 = 200 -> min clamp 250
        ("fast.org", 400, 200), ("fast.org", 400, 200),
        # slow healthy host: mean 8000 / 2 = 4000
        ("slow.org", 8000, 200), ("slow.org", 8000, 200),
        # erroring host: computed 300 but errors hold >= start 5000
        ("err.org", 600, 200), ("err.org", 700, 503),
        # dead host: no OK fetch at all -> start delay
        ("dead.org", 100, 500),
    ]
    log = spark.createDataFrame(
        rows, "url_host string, latency_ms long, status int")
    d = {r.url_host: r for r in autothrottle_delays(log).collect()}
    assert d["fast.org"].delay_ms == 250
    assert d["slow.org"].delay_ms == 4000
    assert d["err.org"].delay_ms == 5000 and d["err.org"].n_err == 1
    assert d["dead.org"].delay_ms == 5000
    assert d["dead.org"].mean_ok_ms is None
    # the seconds column drops straight into the scheduler's
    # politeness table (conservative per-host delay)
    pol = autothrottle_delays(log).select(
        "url_host", "download_delay"
    ).withColumn("max_per_host", F.lit(1))
    cand = spark.createDataFrame(
        [(f"http://slow.org/p{i}", "slow.org", 0, i, 0, "t",
          "html-generic") for i in range(3)],
        "url string, url_host string, priority long, seq long, "
        "depth int, source string, format string",
    )
    scheduled, deferred, _ = schedule(cand, politeness=pol)
    ts = sorted(r.fetch_ts for r in scheduled.collect())
    assert ts == [0.0, 4.0, 8.0]      # 4000 ms spacing applied


def test_sketch_stats_accuracy_vs_exact(spark):
    # sketches are deterministic but engine-specific → no SQL oracle;
    # pin accuracy against exact aggregates instead: HLL within 3·rsd,
    # and the GK quantile sketch is EXACT below its accuracy bound so
    # percentiles must equal the exact discrete quantile
    embdocs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    got = {r.source: r for r in textops.sketch_stats(embdocs).collect()}
    t = textops.tokens_col(F.col("text"))
    exact = {
        r.source: r
        for r in embdocs.select(
            "source", F.xxhash64("text").alias("fp"),
            F.size(t).alias("toks"))
        .groupBy("source")
        .agg(F.countDistinct("fp").alias("dc"),
             F.expr("percentile(toks, 0.5)").alias("p50x"),
             F.sort_array(F.collect_list("toks")).alias("all_t"))
        .collect()
    }
    vocab_exact = {
        r.source: r.v
        for r in embdocs.select("source", F.explode(t).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("v")).collect()
    }
    assert set(got) == set(exact)
    for s, r in got.items():
        e = exact[s]
        assert abs(r.distinct_content_est - e.dc) <= max(2, 0.15 * e.dc)
        assert abs(r.vocab_est - vocab_exact[s]) \
            <= max(2, 0.15 * vocab_exact[s])
        # discrete quantiles: percentile_approx picks an element at
        # rank ceil(p*n) when n < accuracy — recompute that exactly
        n = len(e.all_t)
        import math
        assert r.p50_tokens in e.all_t
        assert r.p95_tokens in e.all_t
        assert r.p50_tokens >= e.all_t[max(0, math.floor(0.5 * (n - 1)))]
        assert r.p95_tokens >= e.all_t[max(0, math.floor(0.9 * (n - 1)))]


def test_retry_schedule_states_and_backoff(spark):
    from hepcrawl_spark.frontier.politeness import retry_schedule
    S = 1_000_000
    rows = [
        # a: fail, fail, success -> done (trailing run resets)
        ("a", 0 * S, 503), ("a", 60 * S, 503), ("a", 120 * S, 200),
        # b: success then two transients -> retry, backoff 60*2^1
        ("b", 0 * S, 200), ("b", 60 * S, 429), ("b", 120 * S, 503),
        # c: four straight transients -> gave_up at max_retries=3
        ("c", 0 * S, 500), ("c", 9 * S, 502),
        ("c", 18 * S, 408), ("c", 27 * S, 503),
        # d: 404 after its last success -> failed, never retried
        ("d", 0 * S, 200), ("d", 60 * S, 404),
        # e: 404 BEFORE a later success -> the success wins: done
        ("e", 0 * S, 404), ("e", 60 * S, 200),
        # g: one transient, never fetched OK -> retry, backoff 60*2^0
        ("g", 5 * S, 503),
    ]
    log = spark.createDataFrame(rows, "url string, ts_us long, status int")
    r = {x.url: x for x in retry_schedule(log, base_delay_sec=60,
                                          max_retries=3).collect()}
    assert r["a"].state == "done" and r["a"].next_attempt_us is None
    assert r["b"].state == "retry"
    assert r["b"].trailing_fails == 2
    assert r["b"].next_attempt_us == 120 * S + 120 * S   # 60s * 2^(2-1)
    assert r["c"].state == "gave_up" and r["c"].trailing_fails == 4
    assert r["d"].state == "failed"
    assert r["e"].state == "done"
    assert r["g"].state == "retry"
    assert r["g"].next_attempt_us == 5 * S + 60 * S      # 60s * 2^0
    # the cap: a long trailing run cannot push past max_backoff_sec
    long_run = spark.createDataFrame(
        [("z", i * S, 503) for i in range(25)],
        "url string, ts_us long, status int")
    z = retry_schedule(long_run, base_delay_sec=60, max_retries=100
                       ).collect()[0]
    assert z.state == "retry"
    assert z.next_attempt_us == 24 * S + 86400 * S       # capped at 1 day


def test_retry_gate_verdicts(spark):
    from hepcrawl_spark.frontier.politeness import (
        apply_retry_gate,
        retry_schedule,
    )
    S = 1_000_000
    log = spark.createDataFrame([
        ("done1", 0 * S, 200),
        ("perm1", 0 * S, 404),
        ("late1", 100 * S, 503),    # retry, next = 160s
        ("due1", 10 * S, 503),      # retry, next = 70s
        ("gone1", 0 * S, 503), ("gone1", 1 * S, 503),
        ("gone1", 2 * S, 503), ("gone1", 3 * S, 503),
        ("gone1", 4 * S, 503),      # 5 fails > max_retries=3
    ], "url string, ts_us long, status int")
    cand = spark.createDataFrame(
        [(u,) for u in
         ("done1", "perm1", "late1", "due1", "gone1", "fresh1")],
        "url string")
    out = {r.url: r.gate for r in apply_retry_gate(
        cand, retry_schedule(log, base_delay_sec=60, max_retries=3),
        as_of_us=100 * S).collect()}
    assert out == {"done1": "pass", "perm1": "drop", "late1": "defer",
                   "due1": "due", "gone1": "drop", "fresh1": "pass"}


def test_source_drift_orders_shifted_distributions(spark):
    common = "the cat sat on the mat near the old door"
    rows = (
        [(i, common, "steady") for i in range(12)]
        + [(200 + i, "zxq vvw qqj zxq vvw qqj kkp kkp wrt wrt",
            "shifted") for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    r = {x.source: x for x in textops.source_drift(docs).collect()}
    # the steady source dominates the pool (it IS ~the pool), the
    # shifted source is an alien vocabulary: its divergence from the
    # pooled corpus must be far larger
    assert r["shifted"].kl_drift > 3 * r["steady"].kl_drift
    assert r["steady"].kl_drift >= 0.0
    assert r["steady"].shard_tokens == 12 * 10


def test_bm25_ranks_by_relevance_and_rank_contiguous(spark):
    rows = [
        (0, "hash join hash join hash join"),       # dense in q1 terms
        (1, "hash join and other words here too"),  # both terms, once
        (2, "join only appears in this document"),  # one term
        (3, "nothing relevant at all over here"),   # no terms
        (4, "hash hash hash hash hash hash hash"),  # one term, high tf
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.bm25_topk(docs, [(1, ["hash", "join"])], k=10).collect()
    by_doc = {r.doc_id: r for r in out}
    assert 3 not in by_doc                  # zero-match docs never score
    assert by_doc[0].rank == 1              # both terms, highest tf wins
    # rank is contiguous 1..n within the query
    assert sorted(r.rank for r in out) == list(range(1, len(out) + 1))
    # two-term doc beats the single-term docs
    assert by_doc[0].score > by_doc[2].score


def test_bm25_topk_caps_and_orders(spark):
    docs = spark.createDataFrame(
        [(i, "hash " * (i + 1)) for i in range(20)],
        "doc_id long, text string",
    )
    out = textops.bm25_topk(docs, [(7, ["hash"])], k=5).collect()
    assert len(out) == 5
    assert all(r.query_id == 7 for r in out)
    scores = [r.score for r in sorted(out, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)


def _py_winnow(text, k=3, w=4):
    """Reference winnowing in plain Python — same hash, same rules."""
    import hashlib

    toks = text.lower().split()
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    if not grams:
        return set()
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
          % textops.WINNOW_HASH_MOD for g in grams]
    picks = set()
    nwin = max(len(hs) - w + 1, 1)
    for j in range(nwin):
        window = hs[j:j + w]
        m = min(window)
        # rightmost occurrence of the minimum
        pos = j + max(i for i, h in enumerate(window) if h == m)
        picks.add((pos, m))
    return picks


def test_winnow_matches_python_reference(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and more"),
        (1, "a b c d e f g h i j k l m n o p"),
        (2, "short doc"),                    # < k tokens: no k-grams
        (3, "one two three"),                # exactly one k-gram
        (4, "one two three four five"),      # fewer k-grams than w
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.winnow_fingerprints(docs, k=3, w=4).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _py_winnow(text), doc_id


def test_winnow_arrow_codegen_parity(spark):
    # the Arrow selection and the codegen reference must select the
    # same key SET on adversarial inputs (empty, sub-k, sub-w,
    # repeated-min ties); fingerprints are decoded from the keys by
    # shared code
    from parity_refs import winnow_keys_col

    rows = [(0, ""), (1, "a a a a a a a a a a"), (2, "x y"),
            (3, "one two three four"), (4, None),
            (5, "the quick brown fox jumps over the lazy dog again")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = textops.tokens_col(F.col("text"))
    got = docs.select(
        "doc_id",
        textops.winnow_keys_udf(3, 4)(toks).alias("arrow"),
        winnow_keys_col(toks, k=3, w=4).alias("codegen"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert sorted(r.arrow) == sorted(r.codegen), r.doc_id


def test_winnow_shared_substring_shares_fingerprint(spark):
    # the paper's guarantee: a shared run of >= w + k - 1 tokens
    # (6 here) forces at least one common selected fingerprint
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, "xx yy " + shared + " zz"),
        (1, shared + " qq rr ss tt uu vv"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.winnow_fingerprints(docs, k=3, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1]


def test_readability_flesch_arithmetic(spark):
    rows = [
        # "the cat sat." → 3 tokens, 1 sentence, 3 syllables:
        # FRE = 206.835 - 1.015*3 - 84.6*1 = 119.19; FK = 0.39*3
        # + 11.8*1 - 15.59 = -2.62
        (0, "the cat sat."),
        # vowel groups: "reading" → ea+i = 2, "easy" → ea+y = 2;
        # two sentences
        (1, "reading is easy. yes!"),
        (2, ""),           # token-free edge → NULL scores
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x.doc_id: x for x in textops.readability(df).collect()}
    assert (r[0].token_cnt, r[0].sentence_cnt, r[0].syllable_cnt) == (3, 1, 3)
    assert r[0].fre == pytest.approx(119.19)
    assert r[0].fk_grade == pytest.approx(-2.62)
    assert (r[1].token_cnt, r[1].sentence_cnt, r[1].syllable_cnt) == (4, 2, 6)
    # empty text tokenizes to [''] (one zero-vowel token, floor 1)
    assert (r[2].token_cnt, r[2].syllable_cnt) == (1, 1)
    assert r[2].fre is not None


def test_lexical_stats_zipf(spark):
    # 3 "a", 2 "b", 1 "c": 6 tokens, 3 types, 1 hapax; slope of
    # ln(freq) on ln(rank) over ranks (1,2,3)/freqs (3,2,1)
    import math
    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "b c")], "doc_id long, text string")
    r = textops.lexical_stats(df).collect()[0]
    assert (r.token_cnt, r.type_cnt, r.hapax_cnt) == (6, 3, 1)
    assert r.ttr == pytest.approx(0.5)
    assert r.hapax_frac == pytest.approx(1 / 3)
    xs = [math.log(i) for i in (1, 2, 3)]
    ys = [math.log(f) for f in (3, 2, 1)]
    n = 3.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r.zipf_slope == pytest.approx(want)
    assert want < 0                        # frequency falls with rank


# ---------------------------------------------------------------------------
# SemDeDup (semantic_dedup, d15)
# ---------------------------------------------------------------------------

def _semdedup_rows(spark, rows):
    from hepcrawl_spark.operators.similarity import semantic_dedup
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    return {r.id: r for r in semantic_dedup(
        df, threshold=0.9, seed_mod=100, id_col="vec_id").collect()}


def test_semantic_dedup_drops_twin_keeps_farthest(spark):
    # seed (id 0) defines the cluster; 1 and 2 are near-identical to
    # EACH OTHER but both well under threshold vs the seed; 3 is a
    # distinct direction.  1 sits farther from the seed than 2, so
    # the keep order (ccos ASC) visits 1 first: 1 kept, 2 dropped —
    # the paper's keep-the-most-distinct-example rule
    base = [1.0] + [0.0] * 63
    near_a = [0.50, 1.0, 0.0] + [0.0] * 61
    near_b = [0.52, 1.0, 0.0] + [0.0] * 61
    distinct = [0.0, 0.0, 1.0] + [0.0] * 61
    got = _semdedup_rows(spark, [
        (0, base), (1, near_a), (2, near_b), (3, distinct)])
    assert got[0].kept == 1          # the seed itself survives
    assert got[1].kept == 1          # farther from centroid → kept
    assert got[2].kept == 0          # its near-twin → dropped
    assert got[3].kept == 1          # unrelated direction untouched
    assert got[1].cluster == got[2].cluster == 0
    assert got[1].ccos < got[2].ccos


def test_semantic_dedup_zero_norm_bypasses(spark):
    got = _semdedup_rows(spark, [
        (0, [1.0] + [0.0] * 63), (7, [0.0] * 64)])
    assert got[7].cluster == -1 and got[7].kept == 1
    assert got[7].ccos == -2.0


def test_semantic_dedup_requires_a_seed(spark):
    import pytest as _pytest
    from hepcrawl_spark.operators.similarity import semantic_dedup
    df = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="seed"):
        semantic_dedup(df, seed_mod=100, id_col="vec_id")


def test_semantic_dedup_assignment_broadcasts(spark):
    from hepcrawl_spark.operators.similarity import semantic_dedup
    df = spark.createDataFrame(
        [(i, [float(i + 1)] * 64) for i in range(0, 8)],
        "vec_id long, embedding array<float>")
    plan = (semantic_dedup(df, seed_mod=4, id_col="vec_id")
            ._jdf.queryExecution().executedPlan().toString())
    # seed assignment must be a broadcast join (the corpus never
    # shuffles to meet the tiny seed side)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_cluster_cap_sample_quota_and_order(spark):
    import hashlib

    from hepcrawl_spark.operators.similarity import cluster_cap_sample

    # 12 near-collinear vectors, one seed (id 0) → one cluster of 12;
    # quota 5 must keep exactly 5, in ascending md5(id)/id order
    rows = [(i, [1.0, float(i % 3) * 0.01] + [0.0] * 62)
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    got = {r.id: r for r in cluster_cap_sample(
        df, quota=5, seed_mod=61).collect()}
    assert len(got) == 12
    assert sum(r.kept for r in got.values()) == 5
    # pick order is ascending md5(id), ties by id — python mirror
    order = sorted(got, key=lambda i: (hashlib.md5(
        str(i).encode()).hexdigest(), i))
    for rank, i in enumerate(order, start=1):
        assert got[i].pick_rank == rank
        assert got[i].kept == (1 if rank <= 5 else 0)


def test_cluster_cap_sample_caps_dominant_topic(spark):
    from hepcrawl_spark.operators.similarity import cluster_cap_sample

    # topic A: 40 members around seed 0; topic B: 3 members around a
    # direction whose best seed is still 0? — use seed_mod=20 so ids
    # 0,20,40 are seeds; B vectors sit on the axis of seed 20
    a = [(i, [1.0, 0.001 * i] + [0.0] * 62) for i in range(40)
         if i not in (20,)]
    b = [(i, [0.0, 1.0, 0.002 * i] + [0.0] * 61)
         for i in (20, 50, 51)]
    df = spark.createDataFrame(
        a + b, "vec_id long, embedding array<float>")
    got = cluster_cap_sample(df, quota=4, seed_mod=20).collect()
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.cluster, []).append(r)
    kept_a = sum(r.kept for r in by_cluster[0])
    kept_b = sum(r.kept for r in by_cluster[20])
    assert kept_a == 4            # dominant topic capped at quota
    assert kept_b == 3            # small topic fully kept
    assert len(by_cluster[0]) == 39


def test_cluster_cap_single_window_exchange(spark):
    from hepcrawl_spark.operators.similarity import cluster_cap_sample

    df = spark.createDataFrame(
        [(i, [float(i + 1)] * 64) for i in range(8)],
        "vec_id long, embedding array<float>")
    plan = (cluster_cap_sample(df, seed_mod=4)
            ._jdf.queryExecution().executedPlan().toString())
    # one window, partitioned by cluster — never an unpartitioned
    # global sort; assignment side broadcasts as in semantic_dedup
    assert plan.count("Window") >= 1
    assert "windowspecdefinition(cluster" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bloom_contamination_superset_of_exact(spark):
    # Bloom direction of error is the safe one: every doc the exact
    # operator flags, the bloom flags too (no false negatives), and
    # hit counts dominate gram-for-gram
    from hepcrawl_spark.operators.dedup import (
        benchmark_contamination, bloom_contamination)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 2)
    exact = {r.doc_id: r for r in
             benchmark_contamination(docs, bench, n=13).collect()}
    bloom = {r.doc_id: r for r in
             bloom_contamination(docs, bench, n=13,
                                 m_bits=1 << 20, k=3).collect()}
    assert set(exact) == set(bloom)
    for i, e in exact.items():
        assert bloom[i].gram_cnt == e.gram_cnt
        assert bloom[i].hit_cnt >= e.hit_cnt, i
        if e.contaminated:
            assert bloom[i].contaminated, i
    # and the filter is not saturated: clean docs stay clean
    n_exact = sum(e.contaminated for e in exact.values())
    n_bloom = sum(b.contaminated for b in bloom.values())
    assert n_bloom <= n_exact + 0.05 * len(exact)


def test_bloom_contamination_tiny_filter_saturates_safely(spark):
    # an undersized filter (m << grams) over-flags but NEVER misses —
    # the directional guarantee holds even misconfigured
    from hepcrawl_spark.operators.dedup import (
        benchmark_contamination, bloom_contamination)

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p"),
         (2, "a b c d e f g h i j k l m xx yy zz"),
         (3, "q r s t u v w x y z aa bb cc dd ee")],
        "doc_id long, text string")
    bench = docs.filter("doc_id = 1")
    exact = {r.doc_id: r.contaminated for r in benchmark_contamination(
        docs, bench, n=13).collect()}
    bloom = {r.doc_id: r.contaminated for r in bloom_contamination(
        docs, bench, n=13, m_bits=8, k=2).collect()}
    for i, flagged in exact.items():
        if flagged:
            assert bloom[i], i


def test_bloom_contamination_broadcasts_positions(spark):
    from hepcrawl_spark.operators.dedup import bloom_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 2)
    plan = (bloom_contamination(docs, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_strip_host_boilerplate_verdict_and_scope(spark):
    from hepcrawl_spark.operators.textops import strip_host_boilerplate

    # host A: banner on 3/4 pages (75% >= 50%, >= 3 pages → strip all
    # copies); host B: the SAME banner on 1/2 pages — below the
    # 3-page floor, stays (host-local scope, unlike d10's global rule)
    rows = [
        (1, "a", "BANNER\ncontent one"),
        (2, "a", "BANNER\ncontent two"),
        (3, "a", "BANNER\ncontent three"),
        (4, "a", "content four"),
        (5, "b", "BANNER\ncontent five"),
        (6, "b", "content six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = {r.doc_id: r for r in strip_host_boilerplate(
        docs, min_pages=3, min_frac=0.5).collect()}
    for i in (1, 2, 3):
        assert got[i].removed_cnt == 1
        assert got[i].cleaned_text.startswith("content")
    assert got[4].removed_cnt == 0
    assert got[5].removed_cnt == 0          # below the page floor
    assert "BANNER" in got[5].cleaned_text
    # every copy dies — no first-occurrence survivor anywhere on a
    assert all("BANNER" not in got[i].cleaned_text for i in (1, 2, 3))


def test_strip_host_boilerplate_frac_bar(spark):
    from hepcrawl_spark.operators.textops import strip_host_boilerplate

    # 3 hits on a 10-page host: >= min_pages but under the 50% bar
    rows = [(i, "a", ("CHROME\n" if i < 3 else "") + f"body {i}")
            for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = strip_host_boilerplate(docs, min_pages=3, min_frac=0.5)
    assert got.agg(F.sum("removed_cnt")).collect()[0][0] == 0


def test_strip_host_boilerplate_broadcasts_verdict(spark):
    from hepcrawl_spark.operators.textops import strip_host_boilerplate

    docs = spark.createDataFrame(
        [(1, "a", "x\ny")], "doc_id long, host string, text string")
    plan = (strip_host_boilerplate(docs)
            ._jdf.queryExecution().executedPlan().toString())
    # host sizes and the boilerplate set ride broadcast joins; the
    # line stream never shuffles to meet them
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_range_join_matches_theta_and_handles_edges(spark):
    from hepcrawl_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 5, 63, 64, 100, 129, 500])],
        "pid long, v long")
    iv = spark.createDataFrame(
        [(0, 0, 64),        # exactly one bucket
         (1, 60, 70),       # straddles a bucket boundary
         (2, 0, 130),       # covers three buckets, overlaps 0 and 1
         (3, 64, 64),       # empty (half-open) — must never match
         (4, 130, 120)],    # inverted — must never match or crash
        "iid long, lo long, hi long")
    got = {(r.pid, r.iid) for r in range_join(
        pts, iv, "v", "lo", "hi", bucket_width=64).collect()}
    want = {(p.pid, i.iid)
            for p in pts.collect() for i in iv.collect()
            if i.lo <= p.v < i.hi}
    assert got == want
    assert (0, 3) not in got           # empty interval excluded
    # multi-match is real: v=63 falls in intervals 0, 1 AND 2
    assert {(2, 0), (2, 1), (2, 2)} <= got


def test_cms_overestimates_only_and_finds_heavies(spark):
    # t43: est >= exact for every token (one-sided CMS error), and a
    # planted heavy hitter is always admitted
    docs = spark.createDataFrame(
        [(i, ("common " * 20 + f"rare{i} unique{i}").strip())
         for i in range(30)],
        "doc_id long, text string",
    )
    out = textops.cms_heavy_hitters(docs, min_est=0).collect()
    assert all(r.est_cnt >= r.exact_cnt for r in out)
    by_tok = {r.token: r for r in out}
    assert by_tok["common"].exact_cnt == 600
    heavy = textops.cms_heavy_hitters(docs, min_est=500).collect()
    assert "common" in {r.token for r in heavy}
    # narrow sketch still never UNDER-counts (collisions only add)
    tight = textops.cms_heavy_hitters(docs, width=8, min_est=0).collect()
    assert all(r.est_cnt >= r.exact_cnt for r in tight)


def test_cms_sketch_width_controls_error(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(50))) for i in range(4)],
        "doc_id long, text string",
    )
    wide = textops.cms_heavy_hitters(docs, width=4096, min_est=0).collect()
    # 50-token vocab in 4096 buckets x 4 rows: min over rows is exact
    assert all(r.est_cnt == r.exact_cnt for r in wide)


def test_gzip_ratio_matches_zlib_and_orders_quality(spark):
    import zlib
    rows = [
        (0, "the quick brown fox jumps over the lazy dog " * 3),
        (1, "spam ham " * 200),                    # repetitive: tiny ratio
        (2, "".join(  # non-repeating gibberish: barely compresses
            __import__("random").Random(42).choices(
                "abcdefghijklmnopqrstuvwxyz0123456789 ", k=300))),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.gzip_ratio(df).collect()}
    for i, t in rows:
        b = t.encode("utf-8")
        assert got[i].byte_len == len(b)
        assert got[i].gz_len == len(zlib.compress(b, 6))
    assert got[3].gzip_ratio is None
    assert got[1].gzip_ratio < got[0].gzip_ratio < got[2].gzip_ratio


def test_gopher_line_rules_thresholds(spark):
    bullets = "\n".join(f"• item {i}" for i in range(20))
    trailing = "\n".join(f"read more {i}..." for i in range(10))
    prose = "A plain paragraph.\n\nAnother paragraph here."
    df = spark.createDataFrame(
        [(0, bullets), (1, trailing), (2, prose), (3, "\n\n\n")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textops.gopher_line_rules(df).collect()}
    assert got[0].bullet_frac == 1.0 and got[0].passes == 0
    assert got[1].ellipsis_frac == 1.0 and got[1].passes == 0
    # blank lines excluded from the denominator
    assert got[2].line_cnt == 2 and got[2].passes == 1
    # no non-empty lines: vacuous pass, NULL fractions
    assert got[3].line_cnt == 0 and got[3].passes == 1
    assert got[3].bullet_frac is None


def test_clean_corpus_line_rules_gate(spark):
    from hepcrawl_spark.operators.corpus import clean_corpus
    lines = "\n".join(
        f"the word{4*i} of word{4*i+1} is word{4*i+2} and word{4*i+3}"
        for i in range(10))
    bullets = "\n".join("• " + l for l in lines.split("\n"))
    df = spark.createDataFrame(
        [(0, lines), (1, bullets)], "doc_id long, text string",
    )
    base = {r.doc_id for r in clean_corpus(df).collect()}
    gated = {r.doc_id for r in
             clean_corpus(df, line_rules=True).collect()}
    # both pages pass the token rules; only the line rule separates
    assert base == {0, 1}
    assert gated == {0}


def test_cross_corpus_lsh_matches_exact_path(spark):
    # d17 ⊇ semantics: at high similarity the banded path reproduces
    # the exact d11 verdict row-for-row (recall gap ~5e-8 at τ=0.8)
    from hepcrawl_spark.operators import dedup
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again on this very fine morning in the park")
    nd = spark.createDataFrame(
        [(1, base + " extra"), (3, "totally different words here"),
         (5, base)],
        "doc_id long, text string",
    )
    rd = spark.createDataFrame(
        [(0, base), (2, "other reference text entirely unrelated")],
        "doc_id long, text string",
    )
    exact = {r.doc_id: r for r in
             dedup.cross_corpus_dedup(nd, rd, threshold=0.8).collect()}
    caches = []
    got = dedup.cross_corpus_lsh(nd, rd, threshold=0.8, caches=caches)
    rows = {r.doc_id: r for r in got.collect()}
    release(caches)
    assert rows.keys() == exact.keys()
    for k, e in exact.items():
        r = rows[k]
        assert (r.exact_dup, r.near_cnt, r.max_jaccard, r.keep) == \
            (e.exact_dup, e.near_cnt, e.max_jaccard, e.keep), k
    assert rows[5].exact_dup == 1 and rows[5].keep == 0
    assert rows[1].near_cnt >= 1 and rows[1].keep == 0
    assert rows[3].keep == 1


def test_frame_scene_cuts_flags_divergent_frames(spark):
    from hepcrawl_spark.operators import multimodal
    same = "abcd" * 40                      # four identical quarters
    mixed = "aaaa" * 30 + "zz9!" * 30       # halfway shot change
    media = spark.createDataFrame(
        [(0, bytearray(same.encode()), "image/fake"),
         (1, bytearray(mixed.encode()), "image/fake")],
        "doc_id long, media binary, media_type string",
    )
    rows = multimodal.frame_scene_cuts(media, hamming_thresh=3).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, []).append(r)
    for frames in by.values():
        frames.sort(key=lambda r: r.frame_id)
        assert frames[0].scene_cut == 1          # first frame opens
        assert frames[0].hamming_prev is None
    # identical quarters: no further cuts
    assert [f.scene_cut for f in by[0][1:]] == [0, 0, 0]
    # the a->z boundary lands at frame 2
    assert by[1][2].scene_cut == 1


def test_subword_stats_gpt2_style_splits(spark):
    df = spark.createDataFrame(
        [(0, "don't stop believing, it's 2026!"),
         (1, "hello world"), (2, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textops.subword_stats(df).collect()}
    # don|'t| stop| believing|,| it|'s| 2026|!
    assert got[0].subword_cnt == 9 and got[0].word_cnt == 5
    assert got[0].fertility == pytest.approx(1.8)
    assert got[1].subword_cnt == 2 and got[1].fertility == 1.0
    # empty text: t01's [''] convention -> word_cnt 1, zero subwords
    assert got[2].subword_cnt == 0 and got[2].word_cnt == 1
    assert got[2].chars_per_subword is None


def test_subword_stats_unicode_version_independent(spark):
    # regression: hypothesis found Java-vs-RE2 Unicode-table skew on
    # supplementary-plane points under \p{L}; the explicit-range
    # pattern must agree with its DuckDB mirror on exactly those
    import duckdb
    import __spark_entry__ as em
    texts = [
        "2\x0e\U0007eff0\x83\x9c",                 # unassigned plane 7
        "c\x98\U000f33be\U00032160¶§¸i\x12Ån\x14%\U0010ac39",
        "𝟙①٣Ⅷﬁｱｲｳ÷×",                           # exotic N/L boundary
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.match_cnt, r.subword_cnt)
           for r in textops.subword_stats(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    want = {r[0]: (r[1], r[2]) for r in con.execute(
        em.oracle_sql()["t46_subword_stats"]).fetchall()}
    con.close()
    assert got == want


def test_curriculum_pack_orders_by_score(spark):
    from hepcrawl_spark.operators.corpus import curriculum_pack
    scored = spark.createDataFrame(
        [(0, 10, 0.2), (1, 20, 0.9), (2, 30, 0.5), (3, 40, 0.9)],
        "doc_id long, token_cnt long, cls_score double",
    )
    caches = []
    out = curriculum_pack(scored, capacity=32, caches=caches)
    rows = {r.doc_id: r for r in out.collect()}
    release(caches)
    # stream order: 1 (0.9), 3 (0.9, higher id), 2 (0.5), 0 (0.2)
    assert (rows[1].seq_id, rows[1].seq_offset) == (0, 0)
    assert (rows[3].seq_id, rows[3].seq_offset) == (0, 20)
    # doc 3 ends at 60 -> doc 2 opens at offset 60 % 32 = 28, seq 1
    assert (rows[2].seq_id, rows[2].seq_offset) == (1, 28)
    assert (rows[0].seq_id, rows[0].seq_offset) == (2, 26)
