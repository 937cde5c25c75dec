"""Property-based cross-engine parity for the corpus-signal operators.

Each hypothesis example generates an adversarial-unicode corpus, lands
it as a parquet `documents` table, and runs the DRIVER's own
``queries()`` entry on Spark against the DRIVER's own ``oracle_sql()``
mirror on DuckDB — the exact pair the correctness gate compares — so a
divergence found here is a divergence the gate would flag.  The
tokenizer-level fuzz (test_operators.py) already pinned the shared
whitespace contract; this module fuzzes the COMPOSED signals the
round-3/4 pipeline stages gate on: Gopher rules, rolling-hash
fingerprint, unigram-LM logprob, packed-sequence layout, and the
hashed-feature classifier.
"""

import os

import pytest

duckdb = pytest.importorskip("duckdb")
hypothesis = pytest.importorskip("hypothesis")

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

import __spark_entry__ as em  # noqa: E402

FUZZED_QUERIES = [
    "t04_text_fingerprint",
    "t09_text_gopher",
    "t10_unigram_logprob",
    "t12_classifier_score",
    "p02_pack_sequences",
    "t13_pii_scrub",
    "t14_dedup_lines",
    "t18_badwords",
    "t28_char_entropy",
    "t30_bigram_logprob",
    "t42_kn_bigram",
    "t45_gopher_lines",
    "t46_subword_stats",
]

# the tokenizer fuzz's adversarial alphabet: unicode whitespace,
# controls, emoji, letters/digits/punctuation — everything the
# whitespace contract has to survive
_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "S", "Z", "C"),
        exclude_characters="\x00",
    ),
    max_size=80,
)
# bias some docs toward real-looking token streams so the signals
# (stopword ratios, duplicate spans, LM probabilities) take non-trivial
# values instead of degenerating to the empty/rejected case
_WORDS = st.lists(
    st.sampled_from(
        ["the", "a", "of", "to", "and", "cat", "sat", "mat", "word",
         "data", "spark", "engine", "x1", "zz", "\xa0odd", "émile"]
    ),
    min_size=1, max_size=60,
).map(" ".join)
_DOC = st.one_of(_TEXT, _WORDS)


def _norm(v):
    if isinstance(v, float):
        return f"{v:.12g}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )


def _release_all(spark):
    # the pipeline queries persist intermediate frames and local
    # checkpoints; drop them all once a query's rows are collected
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


# VERDICT r4 #8: adversarial LINE structures — repeated blank lines,
# newline-only documents, and 13-gram boundary collisions — aimed at
# t11's gram containment, the rewrites (t14/d09), and the composed
# pipeline verdicts (p05/p06).
_LINE = st.sampled_from(
    ["", " ", "\t", "the cat sat", "nav menu item", "©2024 corp",
     "w1 w2 w3", "the cat sat"]
)
_LINE_DOC = st.lists(_LINE, min_size=0, max_size=8).map("\n".join)
_NL_ONLY = st.integers(min_value=0, max_value=5).map(lambda n: "\n" * n)
# exactly 13 shared tokens with per-doc prefixes/suffixes: the gram
# window slides on/off the shared region at the boundary
_BASE13 = " ".join(f"t{i}" for i in range(13))
_GRAM_DOC = st.tuples(
    st.sampled_from(["", "pre ", "t12 "]),
    st.sampled_from(["", " post", " t0", " t0 t1"]),
).map(lambda p: p[0] + _BASE13 + p[1])
# occasionally gate-passing prose so p05/p06 exercise their full tails
_GATEY = st.lists(
    st.sampled_from(
        ["the", "a", "of", "to", "and", "house", "river", "story",
         "quiet", "morning", "light", "words", "data", "engine",
         "garden", "window"]
    ),
    min_size=45, max_size=60,
).map(" ".join)
_LINEY_DOC = st.one_of(_LINE_DOC, _NL_ONLY, _GRAM_DOC, _GATEY)

LINE_FUZZED_QUERIES = [
    "t11_benchmark_contamination",
    "t14_dedup_lines",
    "d09_span_rewrite",
    "p05_clean_decontaminated",
    "p06_clean_span_rewritten",
    "p08_clean_decontam_rewritten",
    "d10_dedup_lines_global",
    "t45_gopher_lines",
]


def test_line_structure_queries_match_duckdb(spark, tmp_path):
    oracles = em.oracle_sql()
    queries = em.queries()
    counter = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(_LINEY_DOC, min_size=1, max_size=6))
    def check(texts):
        counter[0] += 1
        sf_dir = str(tmp_path / f"l{counter[0]}")
        docs = spark.createDataFrame(
            [(i, t, "en", "fuzz", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, "
            "source string, n_chars long",
        )
        docs.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        con = duckdb.connect()
        glob = os.path.join(sf_dir, "documents.parquet", "*.parquet")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{glob}')"
        )
        for name in LINE_FUZZED_QUERIES:
            df = queries[name](spark, sf_dir)
            got = _rowset(df.columns, df.collect())
            cur = con.execute(oracles[name])
            want = _rowset([d[0] for d in cur.description],
                           cur.fetchall())
            _release_all(spark)
            assert got == want, (name, texts)
        con.close()

    check()


def test_signal_queries_match_duckdb_on_fuzzed_corpora(spark, tmp_path):
    oracles = em.oracle_sql()
    queries = em.queries()
    counter = [0]

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(_DOC, min_size=1, max_size=6))
    def check(texts):
        counter[0] += 1
        sf_dir = str(tmp_path / f"c{counter[0]}")
        docs = spark.createDataFrame(
            [(i, t, "en", "fuzz", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, "
            "source string, n_chars long",
        )
        docs.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        con = duckdb.connect()
        glob = os.path.join(sf_dir, "documents.parquet", "*.parquet")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{glob}')"
        )
        for name in FUZZED_QUERIES:
            df = queries[name](spark, sf_dir)
            got = _rowset(df.columns, df.collect())
            cur = con.execute(oracles[name])
            want = _rowset([d[0] for d in cur.description],
                           cur.fetchall())
            _release_all(spark)
            assert got == want, (name, texts)
        con.close()

    check()



def test_terminator_final_docs_match_duckdb(spark, tmp_path):
    """Regression: Java's plain ``$`` matches BEFORE a final NEL / LS /
    PS line terminator, so the WS_EDGE trailing trim used to eat
    "<spaces><U+2028>"-style endings on Spark while the RE2 and
    Python mirrors kept them — a token-set divergence on every
    token-based signal.  textops.WS_EDGE_J pins Java to UNIX_LINES;
    this corpus places a class-whitespace run directly before each
    terminator at end-of-text, the exact shape that diverged.
    """
    texts = [
        "word \u0085",        # space + final NEL
        "word \u2028",        # space + final LS
        "word\t\u2029",       # tab + final PS
        "a b \u2028",         # multi-token prefix
        "line one\n\u0085",   # newline inside the run
        "word \u2028 tail",   # terminator NOT final: no divergence
        "word \n",            # in-class terminator: always trimmed
        "\u2028",             # terminator-only doc
        " \u0085 \u2028",    # interleaved runs, terminator final
    ]
    sf_dir = str(tmp_path / "term")
    docs = spark.createDataFrame(
        [(i, t, "en", "fuzz", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, "
        "source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    con = duckdb.connect()
    glob = os.path.join(sf_dir, "documents.parquet", "*.parquet")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{glob}')"
    )
    oracles = em.oracle_sql()
    queries = em.queries()
    for name in ["t01_text_tokens", "t09_text_gopher",
                 "t20_c4_filter", "t22_normalize_punct",
                 "t14_dedup_lines"]:
        df = queries[name](spark, sf_dir)
        got = _rowset(df.columns, df.collect())
        cur = con.execute(oracles[name])
        want = _rowset([d[0] for d in cur.description], cur.fetchall())
        assert got == want, name
    con.close()
