"""Text-analysis operators: tokens, language-ID, quality, fingerprint.

All operators are pure JVM column expressions (whole-stage codegen; no
Python UDFs) so they scan-scale linearly: at 100 TB they cost one pass
over the text column with full predicate pushdown / column pruning.

Determinism contract: every expression here has an exact ANSI-SQL
mirror (used by the DuckDB oracle in ``__spark_entry__``); arithmetic
is integer or single-expression double so results are bit-identical
across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Small English function-word list for the n-gram/stopword language
# heuristic (public knowledge; any fixed list works — the operator
# contract is the ratio computation, not the list).
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "with", "is", "are", "was", "be", "by", "at", "from", "as", "it",
]

# per-language function-word profiles for multi-language ID (same
# public-knowledge caveat; profiles are deliberately disjoint-ish so
# the argmax is sharp on real text)
LANG_PROFILES = {
    "en": EN_STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein",
           "eine", "den", "von", "zu", "im", "für", "auf", "dem"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du",
           "dans", "pour", "que", "qui", "au", "pas", "sur"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "del", "en",
           "por", "que", "con", "para", "su", "se", "lo"],
}

# rolling-hash modulus: 2^31 - 1 (Mersenne prime).  h < 2^31 and token
# hashes < 2^60, so h*31 + tok never overflows int64.
FP_MOD = 2147483647


# The cross-engine whitespace contract.  NOT ``\s`` (Java regex \s
# includes \x0b, RE2/DuckDB \s does not) and NOT ``trim`` (DuckDB's
# strips Unicode spaces like NBSP/U+3000, Spark's and Python's strip
# only ASCII space) — both divergences found by the hypothesis parity
# test.  An explicit class + explicit regex edge-trim are interpreted
# identically by Java regex, RE2, and Python re.
WS_CLASS = r"[ \t\n\f\r]+"
WS_EDGE = r"^[ \t\n\f\r]+|[ \t\n\f\r]+$"
# Java-side variant of WS_EDGE.  Plain Java ``$`` also matches BEFORE
# a final line terminator (\n, \r\n, \r, U+0085 NEL, U+2028 LS,
# U+2029 PS — Pattern's default line-terminator set), so on text
# ending "<spaces><U+2028 LS>" Java trims the spaces while RE2/DuckDB ``$``
# (end-of-text only) and Python ``$`` (end or before a final \n only)
# keep them — a real token-set divergence on NEL/LS/PS-final
# documents.  ``(?d)`` (UNIX_LINES) shrinks Java's terminator set to
# \n alone, which makes all three engines agree on every input: for a
# greedy trailing class-run the before-final-\n position and the
# end-of-text position yield the same replacement whenever \n is in
# the class (it is).  RE2 rejects the flag, so SQL mirrors keep the
# flagless WS_EDGE; Spark expressions must use WS_EDGE_J.
WS_EDGE_J = "(?d)" + WS_EDGE


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization, lowercased.

    SQL mirror: ``regexp_split_to_array(regexp_replace(lower(text),
    '^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$', '', 'g'),
    '[ \\t\\n\\f\\r]+')`` (same explicit class on both engines).

    Known seam (found by the tokenizer fuzz): ``lower()`` case
    MAPPINGS follow each engine's Unicode tables, which differ by
    engine version for recently cased scripts — e.g. Vithkuqi
    (U+10570 ff., cased in Unicode 14) lowercases on Python 3.11 but
    not on JVMs/utf8proc builds with older tables.  The whitespace
    CLASS above is version-stable; only case mappings of
    post-release code points can diverge, and the parity property
    test skips exactly that set.
    """
    return F.split(
        F.regexp_replace(F.lower(text), WS_EDGE_J, ""), WS_CLASS
    )


def bind_once(expr: Column, build) -> Column:
    """Evaluate ``expr`` once per row and pass it to ``build`` as a
    higher-order-function lambda variable.

    Codegen's subexpression elimination dedupes repeated subtrees in a
    plain projection, but NOT inside HOF lambdas: an n-gram builder
    that inlines the regex tokenizer into each ``element_at`` of a
    ``transform`` re-tokenizes the document once per array position
    (measured 2.8x on the sf0.1 bigram count).  Wrapping the expression
    in a one-element ``transform`` binds it to a lambda variable, so
    the tokenizer runs exactly once per row regardless of how many
    times the builder references it.
    """
    return F.element_at(F.transform(F.array(expr), build), 1)


def token_stats(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics (token / distinct / char counts).

    ``mean_token_len`` is a single int/int division → deterministic
    double.
    """
    t = tokens_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(t).alias("token_cnt"),
        F.size(F.array_distinct(t)).alias("distinct_cnt"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("char_cnt"),
    )


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", threshold: float = 0.04) -> DataFrame:
    """Heuristic language-ID: English function-word hit ratio.

    A document whose stopword ratio ≥ ``threshold`` is tagged ``en``,
    else ``und``.  (An n-gram profile per language plugs into the same
    shape; the corpus here is synthetic English so one profile is
    enough to exercise the operator.)  Ratio is int/int → exact double.
    """
    t = tokens_col(F.col(text_col))
    hits = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    total = F.size(t)
    ratio = hits.cast("double") / total.cast("double")
    return docs.select(
        F.col(id_col),
        hits.alias("en_hits"),
        total.alias("token_cnt"),
        F.when(ratio >= F.lit(threshold), F.lit("en"))
         .otherwise(F.lit("und")).alias("guessed_lang"),
    )


def lang_id_multi(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  threshold: float = 0.04) -> DataFrame:
    """Multi-language ID: per-language function-word hit ratios, argmax
    wins if its ratio ≥ threshold, else ``und``.

    Still a single codegen scan pass — one ``size(filter(...))`` per
    profile over the same token array, no UDFs, no shuffle.  Ties
    break by language code ascending (deterministic; mirrored in SQL
    by ordering the CASE greatest() comparison the same way).
    """
    t = tokens_col(F.col(text_col))
    total = F.size(t).cast("double")
    ratios = {
        lang: F.size(F.filter(t, lambda x: x.isin(*words))).cast("double")
        / total
        for lang, words in sorted(LANG_PROFILES.items())
    }
    best = F.greatest(*ratios.values())
    guess = F.lit("und")
    # reverse order so the FIRST language in ascending order wins ties
    for lang in sorted(ratios, reverse=True):
        guess = F.when(
            (ratios[lang] == best) & (best >= F.lit(threshold)),
            F.lit(lang),
        ).otherwise(guess)
    out = docs.select(
        F.col(id_col),
        F.size(t).alias("token_cnt"),
        *[F.round(ratios[lang], 9).alias(f"ratio_{lang}")
          for lang in sorted(ratios)],
        guess.alias("guessed_lang"),
    )
    return out


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Document quality heuristics: length, lexical diversity, mean
    word length — combined into one [0,1] score.

    score = 0.5*min(1, tokens/64) + 0.3*(distinct/tokens)
          + 0.2*min(1, mean_len/8); each term is one division /
    multiplication chain evaluated identically by any IEEE engine.
    """
    t = tokens_col(F.col(text_col))
    n = F.size(t).cast("double")
    d = F.size(F.array_distinct(t)).cast("double")
    chars = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ).cast("double")
    score = (
        F.lit(0.5) * F.least(F.lit(1.0), n / F.lit(64.0))
        + F.lit(0.3) * (d / n)
        + F.lit(0.2) * F.least(F.lit(1.0), (chars / n) / F.lit(8.0))
    )
    return docs.select(
        F.col(id_col),
        F.size(t).alias("token_cnt"),
        (d / n).alias("ttr"),
        score.alias("quality"),
    )


def corpus_stats(docs: DataFrame, text_col: str = "text",
                 group_cols: tuple[str, ...] = ("source", "lang")) -> DataFrame:
    """Per-(source, lang) corpus statistics — the C4-style corpus audit
    (doc counts, token volume, length distribution) a training-data
    pipeline publishes per shard.

    One scan pass (token counting in codegen) + one partial→final
    hash aggregation on a low-cardinality key: no window, no second
    shuffle, broadcast-sized output at any corpus size.  Averages are
    sum/count divisions computed once from the aggregated longs, so
    they are bit-identical across engines.
    """
    t = tokens_col(F.col(text_col))
    per_doc = docs.select(
        *group_cols,
        F.size(t).alias("_toks"),
        F.length(text_col).cast("long").alias("_chars"),
    )
    agg = per_doc.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_toks").alias("total_tokens"),
        F.sum("_chars").alias("total_chars"),
        F.min("_toks").alias("min_tokens"),
        F.max("_toks").alias("max_tokens"),
    )
    return agg.select(
        *group_cols,
        "n_docs",
        "total_tokens",
        "total_chars",
        "min_tokens",
        "max_tokens",
        (F.col("total_tokens").cast("double")
         / F.col("n_docs").cast("double")).alias("avg_tokens"),
    )


def sample_bucket_col(id_c: Column, salt: str) -> Column:
    """16-bit deterministic sampling bucket: the first 4 hex chars of
    ``md5(id || ':' || salt)`` as a long in [0, 0x10000) — the shared
    RNG-free substrate of ``stratified_sample`` and
    ``corpus.mix_sample`` (stable across runs, engines and cluster
    sizes; SQL mirror ``('0x' || substr(md5(...), 1, 4))::BIGINT``)."""
    key = F.md5(F.concat_ws(":", id_c.cast("string"), F.lit(salt)))
    return F.conv(F.substring(key, 1, 4), 16, 10).cast("long")


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      strata_col: str = "lang",
                      id_col: str = "doc_id",
                      salt: str = "s42",
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-stratum sampling by hash threshold — the
    reproducible mixture-reweighting step of a training-data pipeline
    (e.g. keep 80%% of English, 20%% of everything else), stable
    across runs, engines and cluster sizes.

    A row survives iff the first 4 hex chars of
    ``md5(id || ':' || salt)`` fall below ``rate * 0x10000`` for its
    stratum — pure codegen filter (one md5 per row, no shuffle, no
    RNG state), and the identical predicate runs in any engine with
    md5 (the cross-engine oracle uses the same hex-prefix compare).
    Rates quantize to 1/65536 granularity.
    """
    bucket = sample_bucket_col(F.col(id_col), salt)
    thresh = F.lit(int(default_rate * 0x10000))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * 0x10000))
        ).otherwise(thresh)
    return docs.filter(bucket < thresh)


def ngrams_col(t: Column, n: int) -> Column:
    """Token n-gram array from a token-array column (space-joined),
    empty when the document has fewer than ``n`` tokens.

    SQL mirror (n=2): ``CASE WHEN len(toks) >= 2 THEN
    list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' ||
    toks[i+2]) ELSE [] END`` (DuckDB ``range(k)`` is the list
    [0..k), list indexing is 1-based — same shape as Spark's
    ``sequence`` + ``element_at``).
    """
    g = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(F.size(t) >= n, g).otherwise(
        F.array().cast("array<string>")
    )


def gopher_signals(t: Column,
                   min_tokens: int = 40, max_tokens: int = 100_000,
                   min_mean_len: float = 2.0, max_mean_len: float = 12.0,
                   min_alpha_frac: float = 0.8,
                   min_stopwords: int = 2,
                   max_symbol_ratio: float = 0.1,
                   max_dup_bigram_frac: float = 0.2) -> Column:
    """Struct of Gopher filter signals + verdict from a token-array
    column (use inside ``bind_once`` so the tokenizer runs once).
    Shared by the standalone ``gopher_quality`` operator and the
    ``clean_corpus`` pipeline."""
    n = F.size(t)
    nd = n.cast("double")
    chars = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ).cast("double")
    alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    sym = F.size(F.filter(
        t, lambda x: x.contains("#") | x.endswith("...")
    ))
    grams = ngrams_col(t, 2)
    ng = F.size(grams)
    dup_frac = F.when(
        ng > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double")
        / ng.cast("double"),
    ).otherwise(F.lit(0.0))
    mean_len = chars / nd
    passes = (
        (n >= F.lit(min_tokens)) & (n <= F.lit(max_tokens))
        & (mean_len >= F.lit(min_mean_len))
        & (mean_len <= F.lit(max_mean_len))
        & (alpha.cast("double") / nd >= F.lit(min_alpha_frac))
        & (stop >= F.lit(min_stopwords))
        & (sym.cast("double") / nd <= F.lit(max_symbol_ratio))
        & (dup_frac <= F.lit(max_dup_bigram_frac))
    )
    return F.struct(
        n.cast("long").alias("token_cnt"),
        mean_len.alias("mean_word_len"),
        (alpha.cast("double") / nd).alias("alpha_frac"),
        stop.cast("long").alias("stopword_cnt"),
        (sym.cast("double") / nd).alias("symbol_ratio"),
        dup_frac.alias("dup_bigram_frac"),
        passes.cast("int").alias("passes"),
    )


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   **thresholds) -> DataFrame:
    """Gopher-style document filter signals (Rae et al. 2021, public
    rules): token-count bounds, mean word length bounds, fraction of
    words containing an alphabetic character, stopword presence,
    symbol-to-word ratio (``#`` / ``...`` tokens) and duplicate-bigram
    fraction (the repetition signal), plus the conjunction verdict.

    One codegen scan pass — every signal is a higher-order-function
    fold over the once-bound token array (``bind_once``), no Python,
    no shuffle: at 100 TB this is scan-bound with full column pruning,
    and the verdict predicate pushes into downstream filters.  All
    ratios are single int/int divisions → bit-identical across
    engines; thresholds are compared in the same order in the SQL
    mirror.
    """
    s = bind_once(tokens_col(F.col(text_col)),
                  lambda t: gopher_signals(t, **thresholds))
    return docs.select(
        F.col(id_col), s.alias("_s")
    ).select(
        id_col,
        F.col("_s.token_cnt").alias("token_cnt"),
        F.col("_s.mean_word_len").alias("mean_word_len"),
        F.col("_s.alpha_frac").alias("alpha_frac"),
        F.col("_s.stopword_cnt").alias("stopword_cnt"),
        F.col("_s.symbol_ratio").alias("symbol_ratio"),
        F.col("_s.dup_bigram_frac").alias("dup_bigram_frac"),
        F.col("_s.passes").alias("passes"),
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 5,
               group_col: str = "lang",
               text_col: str = "text") -> DataFrame:
    """Top-k token n-grams per group — the corpus LM-statistics pass
    (most frequent bigrams per language shard).

    Plan shape at scale: explode → partial→final hash aggregation on
    (group, ngram) → per-group window rank over the (already reduced)
    count table.  The explode volume is ~tokens-per-doc rows per
    document, all map-side combined before the single count shuffle;
    the ranked window runs over distinct n-grams only.  Ties break by
    n-gram string ascending — deterministic, mirrored in SQL.
    """
    grams = bind_once(tokens_col(F.col(text_col)),
                      lambda t: ngrams_col(t, n))
    counts = (
        docs.select(F.col(group_col).alias("grp"),
                    F.explode(grams).alias("ngram"))
        .groupBy("grp", "ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("n_occurrences").desc(), F.col("ngram").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "ngram",
                "n_occurrences", "rank")
    )


def token_hash(tok: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5.

    SQL mirror: ``('0x' || substr(md5(t), 1, 15))::BIGINT`` (DuckDB) —
    md5 is identical everywhere, unlike engine-native hash functions.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def fingerprint_col(t: Column) -> Column:
    """Rolling-hash fold over a token-array column (see
    ``fingerprint``)."""
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + token_hash(x)) % F.lit(FP_MOD),
    )


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash document fingerprint (token-level Karp-Rabin fold):

        h := (h * 31 + md5_60(token)) mod (2^31 - 1)

    A content fingerprint that is stable across engines and cheap at
    scale (one fold per document, no shuffle).  SQL mirror uses
    ``list_reduce`` with the same fold.
    """
    fp = fingerprint_col(tokens_col(F.col(text_col)))
    return docs.select(F.col(id_col), fp.alias("fingerprint"))


# PII patterns shared verbatim by the Spark plan and the DuckDB
# mirror — written to the RE2 ∩ Java-regex common subset (no
# lookaround, no \d/\s shorthand, explicit classes), so both engines
# read them identically (same discipline as WS_CLASS).
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_IPV4_RE = ("[0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?[.]"
               "[0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?")
PII_PHONE_RE = "[+][0-9][0-9 ()-]{6,}[0-9]"


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing — the redaction pass every public training-data
    pipeline runs before release (emails / IPv4s / international
    phone numbers, the three deterministic classes; cf. the published
    BigCode/StarCoder and FineWeb PII stages): per-document match
    counts plus the masked text with each span replaced by a typed
    placeholder.

    One codegen scan pass (``regexp_extract_all`` + chained
    ``regexp_replace``), no shuffle, no Python.  Masking order is
    email → IPv4 → phone and is part of the contract (the SQL mirror
    applies the same chain, so the masked text hash-matches).
    Detection is pattern-level, deliberately: no checksum validation,
    no NER — those are model concerns; this is the exact-arithmetic
    substrate they'd plug into.
    """
    t = F.col(text_col)
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE, "<IP>",
        ),
        PII_PHONE_RE, "<PHONE>",
    )
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long").alias("email_cnt"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), F.lit(0)))
        .cast("long").alias("ipv4_cnt"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("long").alias("phone_cnt"),
        masked.alias("masked_text"),
    )


def dedup_lines(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                min_line_len: int = 0,
                max_lines: int | None = None) -> DataFrame:
    """Within-document repetition removal: keep the FIRST occurrence
    of every line, drop later exact repeats — the C4-style
    boilerplate control (nav bars, cookie banners, repeated headers)
    that complements the Gopher duplicate-bigram SIGNAL with an
    actual rewrite.  Returns (id, line_cnt, removed_cnt,
    cleaned_text).

    First-occurrence semantics via ``array_position`` (1-based index
    of the first match) compared to each element's own position — an
    order-preserving dedup both engines express identically
    (``list_position`` in DuckDB).  Per-line scan is quadratic in the
    DOCUMENT's line count only — bounded per row, embarrassingly
    parallel across the corpus, no shuffle.  ``min_line_len`` exempts
    short lines (blank separators) from dedup when > 0.

    ``max_lines`` is the pathology guard for that per-doc quadratic:
    a document with more lines than the cap passes through UNCHANGED
    (removed_cnt 0) and gets ``capped = true``, so one adversarial
    10^5-line document costs O(L) instead of putting 10^10
    comparisons on a single task.  The ``capped`` column is added
    only when the guard is requested — the default output schema
    (and the t14 oracle) is unchanged.
    """
    def _clean(lines):
        keep = F.filter(
            lines,
            lambda l, i: (F.array_position(lines, l) == i + 1)
            | (F.length(l) < min_line_len),
        )
        cols = [F.size(lines).cast("long").alias("n")]
        if max_lines is None:
            cols += [
                (F.size(lines) - F.size(keep)).cast("long").alias("rm"),
                F.array_join(keep, "\n").alias("txt"),
            ]
        else:
            over = F.size(lines) > max_lines
            cols += [
                F.when(over, F.lit(0).cast("long"))
                .otherwise((F.size(lines) - F.size(keep)).cast("long"))
                .alias("rm"),
                F.when(over, F.array_join(lines, "\n"))
                .otherwise(F.array_join(keep, "\n")).alias("txt"),
                over.alias("capped"),
            ]
        return F.struct(*cols)

    out = bind_once(F.split(F.col(text_col), "\n"), _clean)
    sel = [
        F.col("_c.n").alias("line_cnt"),
        F.col("_c.rm").alias("removed_cnt"),
        F.col("_c.txt").alias("cleaned_text"),
    ]
    if max_lines is not None:
        sel.append(F.col("_c.capped").alias("capped"))
    return docs.select(F.col(id_col), out.alias("_c")).select(
        id_col, *sel
    )


# encodes (doc_id, line_idx) into one orderable int64 so "first
# occurrence corpus-wide" is a plain MIN (partial-agg-able) on both
# engines.  Bound: line index < 1e9 per document (a billion-line
# document is beyond any real web page); doc_id < 9.2e9 before the
# product overflows int64 — both documented limits of the operator.
GLOBAL_LINE_KEY = 1_000_000_000


def dedup_lines_global(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       min_line_len: int = 0) -> DataFrame:
    """CROSS-document line dedup: keep only the corpus-wide FIRST
    occurrence of every line — the C4 global rule (Raffel et al.
    2020 §2.2 discard duplicated three-sentence spans corpus-wide;
    every public reimplementation applies it at line granularity),
    complementing :func:`dedup_lines` which only dedups WITHIN a
    document.  Returns (id, line_cnt, removed_cnt, cleaned_text).

    100 TB shape: posexplode lines → one hash-partitioned partial-agg
    ``MIN`` per distinct line picks the winner (skew-safe: min is
    associative, so a line occurring a billion times combines
    map-side) → one co-partitioned equi-join back on the line key →
    per-doc re-assembly via ``array_sort(collect_list)`` (bounded by
    the document's own line count).  Two shuffles total, both on
    hash-balanced keys; no windows, no Python.

    "First" is defined by ``doc_id * GLOBAL_LINE_KEY + line_idx`` —
    deterministic and identical in the DuckDB mirror.  Lines shorter
    than ``min_line_len`` are exempt (kept everywhere): blank
    separators must not collapse to one global survivor.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_i", "_line"),
    ).withColumn(
        "_k",
        F.col(id_col).cast("long") * GLOBAL_LINE_KEY + F.col("_i"),
    )
    winners = lines.groupBy("_line").agg(F.min("_k").alias("_w"))
    keep = (F.col("_k") == F.col("_w")) | (
        F.length("_line") < F.lit(min_line_len)
    )
    return (
        lines.join(winners, on="_line")
        .withColumn("_keep", keep)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1))
            .cast("long").alias("removed_cnt"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("_keep"),
                               F.struct(F.col("_i"), F.col("_line")))
                    )),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("cleaned_text"),
        )
    )


def badwords_gate(docs: DataFrame, banned: list[str],
                  text_col: str = "text", id_col: str = "doc_id",
                  max_frac: float = 0.0) -> DataFrame:
    """Banned-word document gate — the C4 "bad words" filter (Raffel
    et al. 2020 §2.2: drop any page containing a word from a
    blocklist).  Returns (id, token_cnt, bad_cnt, bad_frac, keep);
    ``max_frac`` generalizes the drop rule (0.0 = C4's any-hit-drops;
    >0 tolerates a fraction, the softened variant some pipelines use).

    The blocklist is a plan literal (``IN`` over the tokenized
    array), so the whole gate is ONE whole-stage-codegen scan — no
    join, no shuffle, no Python; at 100 TB it rides the same pass as
    the other per-doc signals.  Real blocklists are a few hundred
    entries (the public "List of Dirty Naughty Obscene..." C4 uses is
    ~400 for English) — comfortably literal-sized.
    """
    def _sig(t):
        n = F.size(t)
        bad = F.size(F.filter(t, lambda x: x.isin(*banned)))
        frac = F.when(n > 0, F.round(bad.cast("double") / n, 9)) \
            .otherwise(F.lit(0.0))
        return F.struct(
            n.cast("long").alias("n"),
            bad.cast("long").alias("bad"),
            frac.alias("frac"),
        )

    sig = bind_once(tokens_col(F.col(text_col)), _sig)
    return docs.select(F.col(id_col), sig.alias("_s")).select(
        id_col,
        F.col("_s.n").alias("token_cnt"),
        F.col("_s.bad").alias("bad_cnt"),
        F.col("_s.frac").alias("bad_frac"),
        (F.col("_s.frac") <= F.lit(max_frac)).alias("keep"),
    )


CLS_BUCKETS = 1024


def default_quality_weights(n_buckets: int = CLS_BUCKETS,
                            stop_bonus: float = 4.0,
                            base: float = -0.5) -> list[float]:
    """Deterministic linear-model weights over hashed token features:
    buckets hit by the English function words carry ``stop_bonus``,
    everything else ``base``.  The exact shape a fasttext-style
    quality filter has after training on prose-vs-gibberish — here
    derived from the stopword list so the weights are reproducible
    public knowledge, not a shipped binary.  With 1024 buckets a
    random token collides with a stopword bucket ~2% of the time, so
    gibberish means ≈ ``base`` while English prose (≈ 40% function
    words) means well above zero.
    """
    w = [float(base)] * n_buckets
    import hashlib

    for s in EN_STOPWORDS:
        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        w[h % n_buckets] = float(stop_bonus)
    return w


def classifier_score_col(t: Column, weights: list[float] | None = None,
                         bias: float = 0.0) -> Column:
    """Column form of :func:`classifier_score` over a token-array
    column ``t`` (use inside ``bind_once`` so the tokenizer runs
    once): 6-digit-rounded logistic score of the hashed-feature
    linear model."""
    if weights is None:
        weights = default_quality_weights()
    n = len(weights)
    arr = F.array(*[F.lit(float(x)) for x in weights])
    return F.round(
        F.lit(1.0) / (
            F.lit(1.0) + F.exp(
                -(F.aggregate(
                    t, F.lit(0.0),
                    lambda acc, x: acc + F.element_at(
                        arr, (token_hash(x) % n + 1).cast("int")
                    ),
                ) / F.size(t).cast("double") + F.lit(bias))
            )
        ), 6
    )


def classifier_score(docs: DataFrame, weights: list[float] | None = None,
                     bias: float = 0.0, threshold: float = 0.5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Model-based quality classifier: logistic score of a linear
    model over hashed token features (the hashing-trick / fasttext
    supervised-filter shape every public pipeline pairs with the
    perplexity signal — CCNet, RedPajama, FineWeb all gate on one).

        x_b(d)  = fraction of d's tokens hashing to bucket b
        score   = sigmoid( Σ_b w_b · x_b + bias )
                = sigmoid( mean over tokens of w[h(tok)] + bias )

    Weights ship as a plain literal array baked into the plan — the
    closure Spark broadcasts with every task, never a shuffle or a
    join — so the whole operator is ONE codegen scan pass: tokenize
    once (``bind_once``), fold w[h(tok)] with ``aggregate``, divide,
    sigmoid.  ``cls_pass`` compares the ROUNDED score so the verdict
    is bit-identical across engines (sigmoid crosses ``exp``, which
    is libm-dependent past ~15 digits; same 6-digit contract as
    ``unigram_logprob``).

    SQL mirror: ``list_reduce`` over ``w[(md5_60(t) % n) + 1]`` with
    the same literal array.
    """
    score = bind_once(
        tokens_col(F.col(text_col)),
        lambda t: F.struct(
            F.size(t).cast("long").alias("cnt"),
            classifier_score_col(t, weights, bias).alias("score"),
        ),
    )
    return docs.select(F.col(id_col), score.alias("_c")).select(
        id_col,
        F.col("_c.cnt").alias("token_cnt"),
        F.col("_c.score").alias("cls_score"),
        (F.col("_c.score") >= F.lit(threshold)).alias("cls_pass"),
    )


def train_nb_weights(docs: DataFrame, label_col: str = "label",
                     n_buckets: int = CLS_BUCKETS, alpha: float = 1.0,
                     text_col: str = "text") -> DataFrame:
    """In-Spark classifier TRAINING: multinomial Naive-Bayes log-odds
    over the same hashed token buckets :func:`classifier_score`
    consumes — the train half of the fasttext-style quality-filter
    loop (train on labeled prose-vs-junk, gate the corpus with the
    learned weights), as exact arithmetic instead of SGD:

        w_b = ln((n_b⁺ + α) / (N⁺ + α·B)) − ln((n_b⁻ + α) / (N⁻ + α·B))

    with per-bucket class token counts n_b±, class totals N±, Laplace
    α, B buckets.  Returns one row per bucket 0..B-1:
    (bucket, n_pos, n_neg, weight), weight rounded to 6 (ln is
    libm-dependent past ~15 digits, the t10/t12 contract).

    Plan shape at 100 TB: tokens explode once and collapse through a
    B-key hash groupBy — map-side partial aggregation shrinks every
    task's output to ≤ B rows, so there is no hot-bucket hazard by
    construction; class totals ride a broadcast one-row aggregate and
    the bucket spine (``spark.range(B)``) a broadcast left join.  No
    Python, no window, no driver collect (use
    :func:`nb_weights_list` to bake the result into a scoring plan).
    """
    spark = docs.sparkSession
    toks = docs.select(
        F.col(label_col).cast("long").alias("_y"),
        F.explode(tokens_col(F.col(text_col))).alias("_tok"),
    )
    hits = toks.select(
        (token_hash(F.col("_tok")) % n_buckets).cast("long")
        .alias("bucket"),
        "_y",
    )
    per_bucket = hits.groupBy("bucket").agg(
        F.sum("_y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).alias("n_neg"),
    )
    totals = hits.agg(F.sum("_y").alias("_t1"),
                      F.sum(F.lit(1) - F.col("_y")).alias("_t0"))
    spine = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    a = float(alpha)
    ab = a * n_buckets
    return (
        spine.join(per_bucket, on="bucket", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
            F.coalesce("n_neg", F.lit(0)).cast("long").alias("n_neg"),
            F.round(
                F.log((F.coalesce("n_pos", F.lit(0)) + F.lit(a))
                      / (F.col("_t1") + F.lit(ab)))
                - F.log((F.coalesce("n_neg", F.lit(0)) + F.lit(a))
                        / (F.col("_t0") + F.lit(ab))),
                6,
            ).alias("weight"),
        )
    )


def nb_weights_list(weights_df: DataFrame) -> list[float]:
    """Collect a :func:`train_nb_weights` result into the plain
    ``list[float]`` that :func:`classifier_score` /
    ``clean_corpus(classifier_weights=…)`` bake into the scoring plan
    as a literal — the train→gate loop's hand-off point.  Bounded by
    construction (exactly ``n_buckets`` rows, 1024 by default); one
    of the package's few ``collect()`` calls."""
    rows = weights_df.select("bucket", "weight").collect()
    out = [0.0] * len(rows)
    for r in rows:
        out[int(r.bucket)] = float(r.weight)
    return out


def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's own
    empirical token distribution — the unigram-order version of the
    public perplexity-filtering signal (CCNet / Wenzek et al. 2020):
    documents whose tokens are improbable under the corpus LM score
    low (gibberish, boilerplate soup); probable prose scores high.

        score(d) = mean over tokens t of ln(count(t) / total_tokens)

    Plan shape at 100 TB: token frequencies are one hash groupBy with
    map-side partial aggregation; the total is a broadcast one-row
    aggregate (never a driver collect); the score join back on the
    token is AQE-skew-split (a stop-token's rows spread across
    splits — no per-token window).  Rounded to 6 decimals: the fold
    crosses ``ln`` so the last few double digits are libm-dependent,
    unlike the exact-arithmetic signals that round to 9.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens_col(F.col(text_col))).alias("_tok"),
    )
    freq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    total = freq.agg(F.sum("_cnt").alias("_total"))
    return (
        toks.join(freq, on="_tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("token_cnt"),
            F.round(
                F.avg(
                    F.log(F.col("_cnt").cast("double")
                          / F.col("_total").cast("double"))
                ), 6
            ).alias("mean_logprob"),
        )
    )


def repetition_signals(t: Column, ls: Column,
                       max_dup_line_frac: float = 0.30,
                       max_dup_line_char_frac: float = 0.20,
                       max_top_2gram_char_frac: float = 0.20,
                       max_dup_5gram_char_frac: float = 0.15) -> Column:
    """Struct of Gopher repetition signals + verdict from a bound
    token-array column ``t`` and a bound line-array column ``ls``
    (use inside nested ``bind_once`` so both run once per row).

    Exact cross-engine definitions (all single int/int divisions,
    rounded to 9):

    - ``dup_line_frac``: fraction of line OCCURRENCES that repeat an
      earlier line (``array_position != own index``).
    - ``dup_line_char_frac``: characters inside those repeat
      occurrences / total line characters.
    - ``top_2gram_char_frac``: characters covered by the most
      frequent bigram (count x token-chars of the gram, separators
      excluded) / total token characters.
    - ``dup_5gram_char_frac``: token-characters inside repeat
      5-gram occurrences / total token characters.  Occurrence-
      weighted (overlapping repeats each count), the common public
      reimplementation of Rae et al. 2021 Table A1's char-fraction
      rules.
    """
    d = "double"

    def _build(g2: Column, g5: Column) -> Column:
        line_cnt = F.size(ls)
        line_chars = F.aggregate(
            ls, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )
        tok_chars = F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )
        rep_lines = F.filter(
            ls, lambda l, i: F.array_position(ls, l) != i + 1
        )
        dup_line_frac = F.round(
            F.size(rep_lines).cast(d) / line_cnt.cast(d), 9
        )
        rep_line_chars = F.aggregate(
            rep_lines, F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        )
        dup_line_char_frac = F.when(
            line_chars > 0,
            F.round(rep_line_chars.cast(d) / line_chars.cast(d), 9),
        ).otherwise(F.lit(0.0))
        top2 = F.when(
            (F.size(g2) > 0) & (tok_chars > 0),
            F.round(
                F.array_max(
                    F.transform(
                        F.array_distinct(g2),
                        lambda g: (
                            F.size(F.filter(g2, lambda x: x == g))
                            * (F.length(g) - 1)
                        ).cast("long"),
                    )
                ).cast(d) / tok_chars.cast(d),
                9,
            ),
        ).otherwise(F.lit(0.0))
        rep5_chars = F.aggregate(
            F.filter(g5, lambda g, i: F.array_position(g5, g) != i + 1),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x) - 4,
        )
        dup5 = F.when(
            tok_chars > 0,
            F.round(rep5_chars.cast(d) / tok_chars.cast(d), 9),
        ).otherwise(F.lit(0.0))
        passes = (
            (dup_line_frac <= F.lit(max_dup_line_frac))
            & (dup_line_char_frac <= F.lit(max_dup_line_char_frac))
            & (top2 <= F.lit(max_top_2gram_char_frac))
            & (dup5 <= F.lit(max_dup_5gram_char_frac))
        )
        return F.struct(
            line_cnt.cast("long").alias("line_cnt"),
            dup_line_frac.alias("dup_line_frac"),
            dup_line_char_frac.alias("dup_line_char_frac"),
            top2.alias("top_2gram_char_frac"),
            dup5.alias("dup_5gram_char_frac"),
            passes.cast("int").alias("passes"),
        )

    return bind_once(
        ngrams_col(t, 2),
        lambda g2: bind_once(ngrams_col(t, 5), lambda g5: _build(g2, g5)),
    )


def repetition_quality(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       **thresholds) -> DataFrame:
    """Gopher REPETITION filter (Rae et al. 2021 Table A1, public
    rules): duplicate-line fraction, duplicate-line character
    fraction, top-bigram character coverage, and duplicate-5-gram
    character fraction, plus the conjunction verdict — the
    within-document repetition battery that complements
    :func:`gopher_quality` (which carries only the duplicate-bigram
    count fraction) and the rewrite operators t14/d10 (which CUT
    repeats instead of scoring them).

    One codegen scan pass: every signal is a higher-order-function
    fold over the once-bound token and line arrays (nested
    ``bind_once``) — no Python, no shuffle, full column pruning, and
    the verdict predicate pushes into downstream filters.  The
    top-bigram mode is O(distinct-grams x grams) per DOCUMENT —
    bounded per row, embarrassingly parallel across the corpus, the
    same per-doc-quadratic envelope as t14's ``array_position`` scan.
    Thresholds compare the ROUNDED signals in the same order as the
    SQL mirror, so the verdict is bit-identical across engines.
    """
    s = bind_once(
        F.split(F.col(text_col), "\n"),
        lambda ls: bind_once(
            tokens_col(F.col(text_col)),
            lambda t: repetition_signals(t, ls, **thresholds),
        ),
    )
    return docs.select(F.col(id_col), s.alias("_s")).select(
        id_col,
        F.col("_s.line_cnt").alias("line_cnt"),
        F.col("_s.dup_line_frac").alias("dup_line_frac"),
        F.col("_s.dup_line_char_frac").alias("dup_line_char_frac"),
        F.col("_s.top_2gram_char_frac").alias("top_2gram_char_frac"),
        F.col("_s.dup_5gram_char_frac").alias("dup_5gram_char_frac"),
        F.col("_s.passes").alias("passes"),
    )


def c4_line_filter(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 5, min_lines: int = 3,
                   terminal: tuple = (".", "!", "?", "\""),
                   drop_substrings: tuple = ("javascript",),
                   page_drop: tuple = ("{", "lorem ipsum")) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2, public
    rules): keep only lines that end in a terminal punctuation mark,
    carry at least ``min_words`` words, and contain none of
    ``drop_substrings`` (the "javascript" rule); flag the PAGE as
    dropped when the raw text contains any of ``page_drop`` (curly
    brace / "lorem ipsum") or fewer than ``min_lines`` lines survive.
    Returns (id, line_cnt, kept_cnt, page_ok, cleaned_text) — the
    rewrite plus the page verdict, so the caller filters on
    ``page_ok`` and keeps the cleaned text in one pass.

    One codegen scan: the line array binds once (``bind_once``) and
    every rule is a higher-order filter over it — no Python, no
    shuffle, embarrassingly parallel across the corpus.  Exact
    cross-engine semantics: "word" = whitespace split of the
    edge-trimmed line (an empty line counts 1 and is dropped by the
    punctuation rule anyway); substring checks compare lowercased;
    the last-character test is ``substring(l, -1, 1)`` / DuckDB
    ``right(l, 1)``, '' for the empty line on both engines.
    """
    term = list(terminal)

    def _keep(l: Column) -> Column:
        words = F.size(F.split(
            F.regexp_replace(l, WS_EDGE_J, ""), WS_CLASS
        ))
        cond = (
            F.substring(l, -1, 1).isin(*term)
            & (words >= F.lit(min_words))
        )
        low = F.lower(l)
        for s in drop_substrings:
            cond = cond & ~low.contains(s)
        return cond

    def _build(ls: Column) -> Column:
        kept = F.filter(ls, _keep)
        page = F.size(kept) >= F.lit(min_lines)
        low_text = F.lower(F.col(text_col))
        for s in page_drop:
            page = page & ~low_text.contains(s)
        return F.struct(
            F.size(ls).cast("long").alias("line_cnt"),
            F.size(kept).cast("long").alias("kept_cnt"),
            page.cast("int").alias("page_ok"),
            F.array_join(kept, "\n").alias("cleaned_text"),
        )

    s = bind_once(F.split(F.col(text_col), "\n"), _build)
    return docs.select(F.col(id_col), s.alias("_s")).select(
        id_col,
        F.col("_s.line_cnt").alias("line_cnt"),
        F.col("_s.kept_cnt").alias("kept_cnt"),
        F.col("_s.page_ok").alias("page_ok"),
        F.col("_s.cleaned_text").alias("cleaned_text"),
    )


def ccnet_buckets(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", lang_col: str = "lang",
                  n_buckets: int = 3,
                  sample_bps: int = 16384,
                  salt: str = "c42") -> DataFrame:
    """CCNet-style language-model bucketing (Wenzek et al. 2020,
    public pipeline): split each language's documents into
    head/middle/tail by fluency under the corpus's own unigram LM
    (:func:`unigram_logprob` — head = most probable).  Returns
    (id, lang, token_cnt, mean_logprob, bucket) with bucket in
    [1, n_buckets].

    Scale shape — NO per-language global sort: boundaries come from a
    deterministic md5-threshold SAMPLE (``sample_bps``/65536 of the
    corpus, the t07 substrate), exactly how the public CCNet computes
    its percentiles on a subset.  The rank window runs over the
    SAMPLE only, partitioned by language (bounded: sample fraction is
    sized so a language's sample fits one partition); the boundary
    table is a handful of rows, broadcast; assignment back to the
    full corpus is two broadcast comparisons per row — codegen, no
    shuffle of the corpus itself.  Boundary rank for cut k is
    ``(m*k + n - 1) div n`` (integer ceil) over the sample ordered by
    (score DESC, id ASC); a document lands in bucket
    ``1 + #{k : score < boundary_k}`` — ties attach upward,
    deterministic on both engines because the compared score is the
    ROUNDED (6-decimal) t10 value.  Languages absent from the sample
    get bucket 1 (no boundaries — explicit COALESCE, same in the
    mirror).
    """
    scored = unigram_logprob(docs, text_col=text_col, id_col=id_col) \
        .join(docs.select(id_col, lang_col), on=id_col)
    samp = scored.where(
        sample_bucket_col(F.col(id_col), salt) < F.lit(sample_bps)
    ).select(lang_col, id_col, "mean_logprob")
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("mean_logprob"), F.col(id_col)
    )
    ranked = samp.withColumn("_rnk", F.row_number().over(w))
    m = samp.groupBy(lang_col).agg(F.count(F.lit(1)).alias("_m"))
    cuts = [k for k in range(1, n_buckets)]
    qcols = {
        k: ((F.col("_m") * k + n_buckets - 1) / n_buckets)
        .cast("long")
        for k in cuts
    }
    bounds = (
        ranked.join(m, on=lang_col)
        .where(F.lit(False) | (
            # boundary rows only: rnk equals some cut's ceil-rank
            sum((F.col("_rnk") == qcols[k]).cast("int") for k in cuts)
            > 0
        ))
        .groupBy(lang_col)
        .agg(*[
            F.max(F.when(F.col("_rnk") == qcols[k],
                         F.col("mean_logprob"))).alias(f"_b{k}")
            for k in cuts
        ])
    )
    bucket = F.lit(1)
    for k in cuts:
        bucket = bucket + F.coalesce(
            (F.col("mean_logprob") < F.col(f"_b{k}")).cast("int"),
            F.lit(0),
        )
    return scored.join(F.broadcast(bounds), on=lang_col, how="left") \
        .select(
            F.col(id_col), F.col(lang_col), F.col("token_cnt"),
            F.col("mean_logprob"), bucket.cast("int").alias("bucket"),
        )


# web-punctuation folding map: curly/angle quotes -> straight,
# en/em/minus dashes -> hyphen, NBSP/ideographic space -> space.
# A 1:1 codepoint map so both engines express it as one translate()
# (same source/target strings rendered into the SQL mirror).
PUNCT_SRC = "‘’‚“”„«»–—− 　"
PUNCT_DST = "'',\"\"\"\"\"---  "


def normalize_punct(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Webtext punctuation normalization — the pre-tokenization
    folding pass most public pipelines run (quote unification, dash
    unification, ellipsis expansion, exotic-space folding, whitespace
    collapse): returns (id, changed, norm_text).

    One codegen scan: a single 1:1 ``translate`` (PUNCT_SRC →
    PUNCT_DST) handles every codepoint-for-codepoint fold, one
    ``replace`` expands U+2026 ellipsis to three dots, and one
    anchored ``regexp_replace`` collapses runs of the contract's
    whitespace class to a single space after edge-trimming.
    ``changed`` marks rows the pass rewrote, so downstream can meter
    how dirty a source is without diffing.  Exact cross-engine:
    translate/replace are table lookups, and the collapse uses the
    same explicit class as the tokenizer (``WS_CLASS``), so
    ``tokens_col(norm_text)`` equals ``tokens_col(text)`` modulo the
    folded punctuation — no case mapping involved.
    """
    PUNCT_DST_ = PUNCT_DST
    t = F.col(text_col)
    folded = F.replace(
        F.translate(t, PUNCT_SRC, PUNCT_DST_),
        F.lit("…"), F.lit("..."),
    )
    norm = F.regexp_replace(
        F.regexp_replace(folded, WS_EDGE_J, ""), WS_CLASS, " "
    )
    return docs.select(
        F.col(id_col),
        (norm != t).cast("int").alias("changed"),
        norm.alias("norm_text"),
    )


def chunk_documents(docs: DataFrame, max_tokens: int = 256,
                    stride: int | None = None,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    min_tail: int = 1) -> DataFrame:
    """Split long documents into fixed-token-window training chunks —
    the long-document step every context-window pipeline runs before
    sequence packing (p02 packs whole docs; this cuts docs LONGER
    than a window into overlapping pieces first).  Returns one row
    per chunk: (id, chunk_idx, chunk_start, chunk_tokens, chunk_text).

    Windows start every ``stride`` tokens (default = ``max_tokens``,
    i.e. disjoint); the final window may be shorter but must carry at
    least ``min_tail`` tokens.  A document at or under ``max_tokens``
    yields exactly one chunk.  Exact construction on both engines:
    chunk starts are ``0, stride, 2*stride, …`` while
    ``start < token_cnt`` with the count of chunks
    ``greatest(1, ceil((token_cnt - max_tokens) / stride) + 1)`` —
    integer arithmetic only, and the chunk text re-joins the token
    slice with single spaces (the tokenizer's inverse up to
    whitespace, which downstream ops treat canonically anyway).

    100 TB shape: one codegen scan + per-row generate (chunk
    cardinality), no shuffle — chunks inherit the scan's partitioning
    and flow straight into `pack_sequences`.
    """
    if stride is None:
        stride = max_tokens
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")

    def _chunks(t):
        n = F.size(t)
        n_chunks = F.greatest(
            F.lit(1),
            F.ceil((n - F.lit(max_tokens)).cast("double")
                   / F.lit(float(stride))).cast("int") + 1,
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("idx"),
                (i * stride).cast("long").alias("start"),
                F.least(
                    F.lit(max_tokens), n - i * stride
                ).cast("long").alias("ntok"),
                F.array_join(
                    F.slice(t, i * stride + 1, max_tokens), " "
                ).alias("txt"),
            ),
        )

    out = bind_once(tokens_col(F.col(text_col)), _chunks)
    return (
        docs.select(F.col(id_col), F.explode(out).alias("_c"))
        .where(F.col("_c.ntok") >= F.lit(min_tail))
        .select(
            id_col,
            F.col("_c.idx").alias("chunk_idx"),
            F.col("_c.start").alias("chunk_start"),
            F.col("_c.ntok").alias("chunk_tokens"),
            F.col("_c.txt").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting (hashed n-gram importance resampling)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_TARGET_BPS = 9830          # ≈15% of 0x10000 — the target sample


def dsir_weights(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 n_buckets: int = DSIR_BUCKETS,
                 target_bps: int = DSIR_TARGET_BPS,
                 salt: str = "dsir") -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) at hashed-unigram order: score every raw document by how
    much more likely its tokens are under a *target* distribution
    than under the raw-corpus distribution.

        weight(d) = mean over tokens t of
                    [ ln p_target(bucket(t)) - ln p_raw(bucket(t)) ]

    with add-one smoothing over ``n_buckets`` hashed buckets.  The
    target here is the deterministic md5-bucket sample of the corpus
    itself (``target_bps``/65536 of docs, same RNG-free idiom as
    ``stratified_sample``) standing in for the held-out high-quality
    corpus (Wikipedia/books in the paper); swap ``is_target`` for a
    real reference corpus by unioning it in upstream.

    Plan shape at 100 TB: bucket frequencies are ONE explode +
    hash-partial groupBy collapsing to ``n_buckets`` rows (tiny);
    totals ride along as a broadcast 1-row aggregate; scoring
    broadcast-joins the n_buckets-row log-ratio table back to the
    token stream (no shuffle on the big side beyond the per-doc
    partial agg).  No token-level join against a corpus-cardinality
    table — unlike ``unigram_logprob`` the model side is fixed-size,
    which is what makes DSIR the scalable selection signal.

    Rounded to 6 decimals: the fold crosses ``ln`` (libm-dependent
    last digits), same contract as ``unigram_logprob``.
    """
    is_target = (sample_bucket_col(F.col(id_col), salt)
                 < F.lit(int(target_bps)))
    toks = docs.select(
        F.col(id_col),
        is_target.alias("is_target"),
        F.explode(tokens_col(F.col(text_col))).alias("_tok"),
    ).select(
        id_col, "is_target",
        (token_hash(F.col("_tok")) % F.lit(n_buckets)).alias("bucket"),
    )
    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("tgt_cnt"),
    )
    totals = counts.agg(
        F.sum("raw_cnt").alias("raw_total"),
        F.sum("tgt_cnt").alias("tgt_total"),
    )
    b = F.lit(n_buckets).cast("double")
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tgt_cnt") + 1).cast("double")
                  / (F.col("tgt_total").cast("double") + b))
            - F.log((F.col("raw_cnt") + 1).cast("double")
                    / (F.col("raw_total").cast("double") + b))
        ).alias("logratio"),
    )
    return (
        toks.join(F.broadcast(ratios), on="bucket")
        .groupBy(id_col, "is_target")
        .agg(
            F.count(F.lit(1)).alias("token_cnt"),
            F.round(F.avg("logratio"), 6).alias("dsir_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Mojibake repair (UTF-8-read-as-cp1252 artifact folding)
# ---------------------------------------------------------------------------

# (artifact, intended) pairs for the classic double-encoding damage:
# UTF-8 bytes of a punctuation/accent codepoint decoded as cp1252.
# Ordered so replacements that could MANUFACTURE a later pattern's
# artifact (the curly-quote fold emits U+201C, the third char of the
# dash artifacts) run after the patterns they could feed; both
# engines run the identical chain, so the output is deterministic
# even on adversarial half-damaged text.  Every character is
# printable (cp1252-unmapped bytes like 0x9D are excluded — those
# artifacts are not byte-stable across decoders and cannot be
# mirrored exactly).
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    ("â€™", "’"),   # â€™  -> right single quote
    ("â€˜", "‘"),   # â€˜  -> left single quote
    ("â€“", "–"),   # â€ + U+201C -> en dash
    ("â€”", "—"),   # â€ + U+201D -> em dash
    ("â€¦", "…"),   # â€¦  -> ellipsis
    ("â€¢", "•"),   # â€¢  -> bullet
    ("â€œ", "“"),   # â€œ  -> left double quote
    ("Ã©", "é"),         # Ã©   -> e acute
    ("Ã¨", "è"),         # Ã¨   -> e grave
    ("Ã¤", "ä"),         # Ã¤   -> a umlaut
    ("Ã¶", "ö"),         # Ã¶   -> o umlaut
    ("Ã¼", "ü"),         # Ã¼   -> u umlaut
    ("Ã±", "ñ"),         # Ã±   -> n tilde
    ("Ã§", "ç"),         # Ã§   -> c cedilla
]


def fix_mojibake(docs: DataFrame, text_col: str = "text",
                 out_col: str = "text_fixed") -> DataFrame:
    """Repair cp1252 mojibake and meter it: adds ``out_col`` (the
    text with every :data:`MOJIBAKE_PAIRS` artifact folded back to
    its intended character) and ``mojibake_hits`` (total artifact
    occurrences in the ORIGINAL text, the corpus-health signal an
    encoding dashboard wants — ftfy's core table reduced to the
    exactly-mirrorable literal substitutions).

    One Python-free projection: a chain of literal ``replace`` calls
    (codegen dedups the shared input scans) plus per-pattern
    occurrence counts from length arithmetic — counts are exact
    because each difference is a multiple of the pattern length.  No
    shuffle, no join; output cardinality = input cardinality.
    """
    t = F.col(text_col)
    fixed = t
    for bad, good in MOJIBAKE_PAIRS:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    hits = None
    for bad, _ in MOJIBAKE_PAIRS:
        c = (
            (F.length(t) - F.length(F.replace(t, F.lit(bad), F.lit(""))))
            / F.lit(len(bad))
        ).cast("long")
        hits = c if hits is None else hits + c
    return docs.select(
        "*", fixed.alias(out_col), hits.alias("mojibake_hits")
    )


# ---------------------------------------------------------------------------
# Character-level Shannon entropy (gibberish / binary-junk screen)
# ---------------------------------------------------------------------------

# code-point class for the entropy alphabet: everything except \n / \r.
# NOT ``.`` — Java's dot also excludes NEL/LS/PS (Pattern's
# line-terminator set) where RE2's excludes only \n, the same
# terminator-set family of seam WS_EDGE_J pins; the explicit negated
# class reads identically in Java regex and RE2.  Java regexes are
# code-point aware, so astral characters (surrogate pairs in the JVM's
# UTF-16) count as ONE symbol on both engines.
ENTROPY_CHAR_RE = r"[^\n\r]"


def entropy_struct(text: Column, max_chars: int = 4096) -> Column:
    """Struct ``(char_cnt, distinct_chars, entropy)`` over the
    prefix-sampled code-point array of ``text`` — the shared body of
    :func:`char_entropy` and the ``min_entropy`` gate hook in
    ``corpus.gated_docs`` (one expression, so the gate costs the
    pipeline zero extra scans)."""
    raw = F.regexp_extract_all(text, F.lit(ENTROPY_CHAR_RE), 0)
    sliced = F.slice(raw, 1, int(max_chars))

    def _build(a: Column) -> Column:
        n = F.size(a)
        d = F.array_distinct(a)
        nd = n.cast("double")
        ent = (
            F.round(
                -F.aggregate(
                    F.transform(
                        d,
                        lambda c: (
                            F.size(F.filter(a, lambda x: x == c))
                            .cast("double") / nd
                        ) * F.log(
                            F.size(F.filter(a, lambda x: x == c))
                            .cast("double") / nd
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ) / F.log(F.lit(2.0)),
                6,
            )
            + F.lit(0.0)
        )
        return F.struct(
            n.cast("long").alias("char_cnt"),
            F.size(d).cast("long").alias("distinct_chars"),
            F.when(n > 0, ent).alias("entropy"),
        )

    return bind_once(sliced, _build)


def char_entropy(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", max_chars: int = 4096,
                 min_chars: int = 64,
                 min_entropy: float = 2.0) -> DataFrame:
    """Shannon entropy (bits/char) of the code-point distribution —
    the classic cheap screen for gibberish, binary junk pasted into
    text fields, and key-mash spam: natural-language text sits around
    4-5 bits/char, single-symbol runs and low-alphabet junk fall
    under ~2.  (The compression-ratio screen public pipelines also
    use is this signal's twin; entropy is the one with an exact
    cross-engine arithmetic mirror.)

    ``low_entropy`` flags docs at or above ``min_chars`` sampled
    code points whose entropy falls below ``min_entropy`` — short
    docs are exempt (no evidence), the same floor idiom as the
    Gopher rules.

    100 TB shape: one codegen projection over the text scan — no
    shuffle, no join, no Python.  Per-row cost is
    O(distinct_alphabet x sampled_chars); ``max_chars`` caps the
    sample (a prefix sample, the standard treatment for per-doc
    signals) so one adversarial all-unique-codepoint document is
    bounded at max_chars^2 comparisons instead of unbounded — the
    ``dedup_lines`` ``max_lines`` lesson applied from the start.

    Determinism: counts are exact integers; the only doubles are the
    single p*ln(p) fold (round 6, the ln contract of t10) — and
    ``+ 0.0`` normalizes the IEEE ``-0.0`` a one-symbol document
    produces on DuckDB but not on Spark.
    """
    s = entropy_struct(F.col(text_col), max_chars)
    return docs.withColumn("_ce", s).select(
        F.col(id_col),
        F.col("_ce.char_cnt").alias("char_cnt"),
        F.col("_ce.distinct_chars").alias("distinct_chars"),
        F.col("_ce.entropy").alias("entropy"),
        (
            (F.col("_ce.char_cnt") >= F.lit(int(min_chars)))
            & (F.col("_ce.entropy") < F.lit(float(min_entropy)))
        ).cast("int").alias("low_entropy"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM fluency scoring (CCNet perplexity signal, order 2)
# ---------------------------------------------------------------------------

def bigram_logprob(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   lam: float = 0.75) -> DataFrame:
    """Per-document mean bigram log-likelihood under the corpus's own
    empirical bigram model with unigram interpolation — the order-2
    step from ``unigram_logprob`` toward the KenLM perplexity filter
    of CCNet (Wenzek et al. 2020): token-order-scrambled spam that
    unigram frequency cannot see scores low here, fluent prose high.

        score(d) = mean over adjacent pairs (p, c) of
                   ln( lam * count(p,c)/count(p,.)
                       + (1-lam) * count(c)/total_tokens )

    Both components are the corpus's own maximum-likelihood estimates
    (every scored pair was observed, so the bigram term is never
    zero; the unigram interpolation is what a held-out corpus swap
    would rely on).  Documents with fewer than two tokens have no
    pairs and drop out — the mirror's pair generator does the same.

    100 TB shape: bigram counts are ONE hash groupBy with map-side
    partial aggregation over the exploded pair stream; context
    counts fold from the (much smaller) bigram-count table, never
    from the stream; the unigram table is t10's; the total rides a
    broadcast 1-row aggregate.  Scoring joins the pair stream to the
    three count tables on their keys — stop-word contexts are the
    hot keys and AQE skew-split handles them (never a per-key
    window).  Pairs are built with ``zip_with`` over two slices of
    the once-bound token array — no self-join, no positional
    shuffle.
    """
    lam = float(lam)

    def _pairs(t: Column) -> Column:
        m = F.greatest(F.size(t) - 1, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, m), F.slice(t, 2, m),
            lambda p, c: F.struct(p.alias("p"), c.alias("c")),
        )

    pairs = docs.select(
        F.col(id_col),
        F.explode(bind_once(tokens_col(F.col(text_col)), _pairs))
        .alias("_bg"),
    ).select(
        id_col,
        F.col("_bg.p").alias("_prev"),
        F.col("_bg.c").alias("_cur"),
    )
    big = pairs.groupBy("_prev", "_cur").agg(
        F.count(F.lit(1)).alias("_bcnt")
    )
    ctx = big.groupBy("_prev").agg(F.sum("_bcnt").alias("_ccnt"))
    toks = docs.select(
        F.explode(tokens_col(F.col(text_col))).alias("_cur")
    )
    uni = toks.groupBy("_cur").agg(F.count(F.lit(1)).alias("_ucnt"))
    total = uni.agg(F.sum("_ucnt").alias("_total"))
    d = "double"
    return (
        pairs.join(big, on=["_prev", "_cur"])
        .join(ctx, on="_prev")
        .join(uni, on="_cur")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("bigram_cnt"),
            F.round(
                F.avg(
                    F.log(
                        F.lit(lam)
                        * (F.col("_bcnt").cast(d) / F.col("_ccnt").cast(d))
                        + F.lit(1.0 - lam)
                        * (F.col("_ucnt").cast(d) / F.col("_total").cast(d))
                    )
                ), 6
            ).alias("mean_logprob"),
        )
    )


# GPT-2-style pre-tokenizer (Radford et al. 2019), in the lookaround-
# free, UNICODE-VERSION-INDEPENDENT form both engines read
# identically.  Three deliberate portability deviations from the
# original, each forced by a measured engine divergence:
# - explicit whitespace class, never \s (Java widens \s with \x0b;
#   the repo-wide contract);
# - `\s+(?!\S)` dropped (RE2 has no lookahead; only changes where
#   trailing-space runs split, not how many tokens result);
# - explicit code-point ranges instead of \p{L}/\p{N}: hypothesis
#   found live skew between Java 17's and DuckDB/RE2's Unicode
#   category tables on supplementary-plane points (CJK extensions,
#   private-use), so the "letter" class is [A-Za-z] plus EVERYTHING
#   >= U+00C0 — a byte-level-BPE-faithful simplification (GPT-2's
#   BPE handles non-ASCII at the byte level regardless of category),
#   and explicit ranges mean the two engines cannot disagree on any
#   code point, assigned or not.  "digit" is [0-9]; the punctuation
#   run covers ASCII punctuation + U+007F–U+00BF.
# Contractions first so "don't" yields ["don", "'t"], then
# letter-ish runs, digit runs, punctuation runs, whitespace runs.
SUBWORD_RE = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z\\x{00C0}-\\x{10FFFF}]+"
    "| ?[0-9]+"
    "| ?[^ \\t\\n\\f\\r A-Za-z0-9\\x{00C0}-\\x{10FFFF}]+"
    "|[ \\t\\n\\f\\r]+"
)


def subword_stats(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Subword-level token counting with a BPE-ish pre-tokenizer —
    the second half of the brief's token-counting pair (whitespace +
    BPE-ish regex): the GPT-2 pre-tokenization pattern splits text
    into the pieces a byte-pair vocabulary would merge within, so
    ``subword_cnt`` tracks real LLM token counts far more closely
    than whitespace words, and ``fertility`` (subwords per word) is
    the standard tokenizer-cost estimate corpus audits report —
    prose sits near 1.2-1.5, code and non-Latin text higher, so the
    ratio doubles as a cheap domain signal.

    Whitespace runs count as pre-tokens here (they carry through
    BPE as space-prefixed pieces); ``fertility`` therefore uses the
    non-whitespace match count against the t01 word count.

    100 TB shape: one codegen scan — ``regexp_extract_all`` + array
    folds, no Python, no shuffle; every ratio is a single division,
    NULL on empty documents.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(SUBWORD_RE), 0)

    def _build(m: Column) -> Column:
        nonws = F.filter(
            m, lambda x: ~x.rlike("^[ \\t\\n\\f\\r]+$"))
        n_sub = F.size(nonws)
        chars = F.aggregate(
            nonws, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        return F.struct(
            F.size(m).cast("long").alias("match_cnt"),
            n_sub.cast("long").alias("subword_cnt"),
            chars.alias("subword_chars"),
        )

    s = bind_once(toks, _build)
    # word_cnt = t01's count exactly (including its [''] = 1
    # empty-input convention), so fertility joins against the same
    # denominator the corpus stats already report
    ws = F.size(tokens_col(F.col(text_col)))
    return docs.select(
        F.col(id_col), s.alias("_s"), ws.cast("long").alias("word_cnt"),
    ).select(
        id_col,
        F.col("_s.match_cnt").alias("match_cnt"),
        F.col("_s.subword_cnt").alias("subword_cnt"),
        "word_cnt",
        F.when(
            F.col("word_cnt") > 0,
            F.round(F.col("_s.subword_cnt").cast("double")
                    / F.col("word_cnt").cast("double"), 9),
        ).alias("fertility"),
        F.when(
            F.col("_s.subword_cnt") > 0,
            F.round(F.col("_s.subword_chars").cast("double")
                    / F.col("_s.subword_cnt").cast("double"), 9),
        ).alias("chars_per_subword"),
    )


def gzip_ratio(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Compressibility quality signal (the RedPajama-v2 quality-signal
    family's gzip-compression-ratio member): deflate the UTF-8 bytes
    and report compressed/raw.  Highly repetitive spam compresses far
    below fluent prose; random gibberish barely compresses at all —
    a single scalar that catches both tails the token-level screens
    (t19/t28) each see only half of.

    zlib level is pinned (default 6) so the signal is deterministic
    and reproducible across runs and machines (same zlib stream for
    the same bytes).  No SQL engine exposes deflate, so this is a
    rows-only driver entry; exactness is pinned in pytest against
    direct ``zlib.compress`` on the same rows.

    100 TB shape: one Arrow-batched pandas UDF over the pruned
    (id, text) projection — embarrassingly parallel, no shuffle; the
    raw length and the ratio stay JVM-side (``octet_length`` + one
    codegen division).
    """
    lvl = int(level)
    if not 1 <= lvl <= 9:
        raise ValueError(f"zlib level must be 1..9, got {level}")

    @pandas_udf("long")
    def _gz_len(texts: pd.Series) -> pd.Series:
        import zlib
        return texts.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), lvl))
        )

    return docs.select(
        F.col(id_col),
        F.octet_length(F.col(text_col)).cast("long").alias("byte_len"),
        _gz_len(F.col(text_col)).alias("gz_len"),
    ).withColumn(
        "gzip_ratio",
        F.when(
            F.col("byte_len") > 0,
            F.round(F.col("gz_len").cast("double")
                    / F.col("byte_len").cast("double"), 6),
        ).otherwise(F.lit(None).cast("double")),
    )


# Gopher line-format rules (Rae et al. 2021, Table A1): reject pages
# that are mostly list chrome — >90% of lines starting with a bullet
# glyph, or >30% ending with an ellipsis.  Literals shared with the
# SQL mirror.
GOPHER_BULLETS = ("•", "-", "*")
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3


def line_format_struct(text: Column) -> Column:
    """Struct(line_cnt, bullet_frac, ellipsis_frac) over the trimmed
    non-empty lines of ``text`` — the shared body of
    ``gopher_line_rules`` and the ``clean_corpus`` gate option
    (fractions unrounded; callers round for display and compare raw
    against thresholds so the verdict never depends on rounding)."""
    def _build(ls: Column) -> Column:
        nonempty = F.filter(ls, lambda l: F.length(l) > 0)
        n = F.size(nonempty)
        nd = n.cast("double")
        bullets = F.size(F.filter(
            nonempty,
            lambda l: F.substring(l, 1, 1).isin(*GOPHER_BULLETS),
        ))
        ellipses = F.size(F.filter(
            nonempty,
            lambda l: l.endswith("...") | l.endswith("…"),
        ))
        return F.struct(
            n.cast("long").alias("line_cnt"),
            F.when(n > 0, bullets.cast("double") / nd)
            .alias("bullet_frac"),
            F.when(n > 0, ellipses.cast("double") / nd)
            .alias("ellipsis_frac"),
        )

    return bind_once(
        F.split(text, "\n", -1),
        lambda ls: _build(F.transform(
            ls, lambda l: F.regexp_replace(l, WS_EDGE, ""),
        )),
    )


def gopher_line_rules(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_bullet_frac: float = GOPHER_MAX_BULLET_FRAC,
                      max_ellipsis_frac: float = GOPHER_MAX_ELLIPSIS_FRAC,
                      ) -> DataFrame:
    """The LINE-layout half of the Gopher repetition/format battery
    (Rae et al. 2021): fraction of lines starting with a bullet glyph
    and fraction ending with an ellipsis ("..." or U+2026), with the
    published 90%/30% rejection thresholds.  ``gopher_quality`` (t09)
    carries the token-level rules; this completes the document-format
    pair the paper applies alongside them.

    Empty lines are excluded from the denominator (a page of prose
    separated by blank lines is not "0% bullets of 40 lines" vs "0%
    of 20" depending on spacing).  Documents with no non-empty lines
    pass vacuously with NULL fractions — the same convention the C4
    line filter (t20) uses.

    100 TB shape: one codegen scan — ``split`` + two higher-order
    ``filter`` folds over the once-bound line array; no Python, no
    shuffle, verdict pushes into downstream filters.
    """
    s = line_format_struct(F.col(text_col))
    passes = (
        F.coalesce(
            F.col("_s.bullet_frac") <= F.lit(float(max_bullet_frac)),
            F.lit(True))
        & F.coalesce(
            F.col("_s.ellipsis_frac") <= F.lit(float(max_ellipsis_frac)),
            F.lit(True))
    )
    return docs.select(F.col(id_col), s.alias("_s")).select(
        id_col,
        F.col("_s.line_cnt").alias("line_cnt"),
        F.round(F.col("_s.bullet_frac"), 9).alias("bullet_frac"),
        F.round(F.col("_s.ellipsis_frac"), 9).alias("ellipsis_frac"),
        passes.cast("int").alias("passes"),
    )


def cms_heavy_hitters(docs: DataFrame, text_col: str = "text",
                      depth: int = 4, width: int = 1024,
                      min_est: int = 64) -> DataFrame:
    """Heavy hitters through a Count-Min sketch (Cormode &
    Muthukrishnan 2005): tokens whose sketch ESTIMATE reaches
    ``min_est``, with the estimate and the exact count side by side.
    The CMS guarantee is one-sided — est ≥ exact always, and
    est ≤ exact + εN with probability 1−δ for d = ln(1/δ) rows of
    w = e/ε buckets — so thresholding on the estimate can only
    over-admit near-threshold tokens, never drop a true heavy hitter.

    Every count is exact integer arithmetic over deterministic
    md5-derived bucket hashes (``token_hash`` idiom — identical in
    Spark and the SQL mirror), so the sketch, the estimates and the
    verdict reproduce bit-for-bit cross-engine.

    100 TB shape: the token stream folds ONCE into the unigram count
    table (hash groupBy, map-side partial agg); the sketch derives
    from that table (vocab × d rows, weighted by count), never from
    the stream, and lands at d·w cells — a few KB that BROADCASTS
    back for the min-over-rows probe.  The sketch is the mergeable
    artifact: shards/streams combine by cell-wise SUM, which is how
    a fleet-wide heavy-hitter pass over 100 TB aggregates without
    moving vocabularies — ship sketches, not counts.  Enumerating
    probe candidates from the full vocab is the sandbox-exact
    choice; at fleet scale the candidate set is each shard's local
    top-k (a superset of any global heavy hitter by the pigeonhole
    bound), probed against the merged sketch.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    uni = docs.select(
        F.explode(tokens_col(F.col(text_col))).alias("_tok")
    ).groupBy("_tok").agg(F.count(F.lit(1)).alias("_ucnt"))
    keyed = uni.select(
        "_tok", "_ucnt",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("_j"),
    ).withColumn(
        "_b",
        F.pmod(
            token_hash(F.concat(F.col("_j").cast("string"),
                                F.lit(":"), F.col("_tok"))),
            F.lit(width),
        ),
    )
    sketch = keyed.groupBy("_j", "_b").agg(F.sum("_ucnt").alias("_cell"))
    est = (
        keyed.join(F.broadcast(sketch), on=["_j", "_b"])
        .groupBy("_tok")
        .agg(F.min("_cell").alias("est_cnt"),
             F.max("_ucnt").alias("exact_cnt"))
    )
    return est.filter(F.col("est_cnt") >= int(min_est)).select(
        F.col("_tok").alias("token"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
    )


def kn_bigram_logprob(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      discount: float = 0.75) -> DataFrame:
    """Per-document mean bigram log-likelihood under interpolated
    Kneser-Ney smoothing (Kneser & Ney 1995; Chen & Goodman 1999) —
    the smoothing family KenLM implements and CCNet's perplexity
    filter (Wenzek et al. 2020) actually runs, upgrading ``bigram_
    logprob``'s naive unigram interpolation: the backoff mass goes to
    the CONTINUATION distribution (in how many distinct left contexts
    does a word appear), so boilerplate tokens that are frequent but
    context-locked ("Francisco" after "San") stop inflating scores
    the way raw unigram frequency does.

        P_cont(c)  = N1+(·,c) / B            (B = distinct bigram types)
        P_kn(c|p)  = (count(p,c) − D) / count(p,·)
                     + D · N1+(p,·) / count(p,·) · P_cont(c)
        score(d)   = mean over adjacent pairs of ln P_kn

    Every scored pair was observed in the corpus, so count(p,c) ≥ 1 >
    D and the discounted term stays positive — no max(·,0) clamp is
    needed and the log never sees zero.  Documents with fewer than
    two tokens have no pairs and drop out, exactly as in ``bigram_
    logprob``.

    100 TB shape: identical to ``bigram_logprob`` — the bigram table
    is ONE hash groupBy with map-side partial aggregation over the
    exploded pair stream, and every KN statistic folds from that
    (much smaller) count table, never from the stream: c(p,·) and
    N1+(p,·) in one groupBy("prev") agg, N1+(·,c) in one
    groupBy("cur") agg, B as a broadcast 1-row aggregate.  Scoring
    joins the pair stream to the two side tables on their keys (AQE
    skew-split handles stop-word contexts); pairs come from
    ``zip_with`` over two slices of the once-bound token array — no
    self-join, no positional shuffle, no Python.
    """
    d_f = float(discount)
    if not 0.0 < d_f < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")

    def _pairs(t: Column) -> Column:
        m = F.greatest(F.size(t) - 1, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, m), F.slice(t, 2, m),
            lambda p, c: F.struct(p.alias("p"), c.alias("c")),
        )

    pairs = docs.select(
        F.col(id_col),
        F.explode(bind_once(tokens_col(F.col(text_col)), _pairs))
        .alias("_bg"),
    ).select(
        id_col,
        F.col("_bg.p").alias("_prev"),
        F.col("_bg.c").alias("_cur"),
    )
    big = pairs.groupBy("_prev", "_cur").agg(
        F.count(F.lit(1)).alias("_bcnt")
    )
    # c(p,.) and N1+(p,.) fold together from the bigram-type table
    ctx = big.groupBy("_prev").agg(
        F.sum("_bcnt").alias("_ccnt"),
        F.count(F.lit(1)).alias("_fanout"),
    )
    cont = big.groupBy("_cur").agg(F.count(F.lit(1)).alias("_lctx"))
    types = big.agg(F.count(F.lit(1)).alias("_btypes"))
    dd = "double"
    return (
        pairs.join(big, on=["_prev", "_cur"])
        .join(ctx, on="_prev")
        .join(cont, on="_cur")
        .crossJoin(F.broadcast(types))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("bigram_cnt"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("_bcnt").cast(dd) - F.lit(d_f))
                        / F.col("_ccnt").cast(dd)
                        + F.lit(d_f)
                        * F.col("_fanout").cast(dd)
                        / F.col("_ccnt").cast(dd)
                        * (F.col("_lctx").cast(dd)
                           / F.col("_btypes").cast(dd))
                    )
                ), 6
            ).alias("mean_logprob_kn"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR selection: Gumbel-top-k importance resampling over dsir_weights
# ---------------------------------------------------------------------------

def dsir_select(docs: DataFrame, k: int, text_col: str = "text",
                id_col: str = "doc_id",
                n_buckets: int = DSIR_BUCKETS,
                target_bps: int = DSIR_TARGET_BPS,
                salt: str = "dsir",
                select_salt: str = "dsir-rs") -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023 §3): draw ``k``
    documents without replacement with probability proportional to
    ``exp(dsir_weight)`` via the Gumbel-top-k identity —
    ``argtop_k(weight + Gumbel_noise)`` is exactly such a sample.
    ``dsir_weights`` scores; this selects, closing the
    score -> select loop the way ``train_nb_weights`` closed
    train -> gate for the classifier.

    The Gumbel draw is RNG-free and engine-stable: the uniform is the
    doc's 16-bit md5 bucket mapped to (0, 1) as ``(bucket+1)/65537``
    (strictly inside the open interval, so neither ``ln`` endpoint
    can hit 0), the same deterministic-sampling substrate as
    ``stratified_sample``.  Keys round to 6 (the ln contract);
    ``doc_id`` breaks ties.

    100 TB shape: ``dsir_weights``'s fixed-size broadcast model plus
    ONE global top-k — ``orderBy(...).limit(k)`` lowers to
    ``TakeOrderedAndProject`` (per-partition heaps + driver merge of
    k-row heads), never a global sort.
    """
    w = dsir_weights(docs, text_col, id_col, n_buckets, target_bps,
                     salt)
    u = (
        (sample_bucket_col(F.col(id_col), select_salt) + 1)
        .cast("double") / F.lit(65537.0)
    )
    key = F.round(F.col("dsir_weight") - F.log(-F.log(u)), 6)
    return (
        w.select(
            F.col(id_col), F.col("token_cnt"), F.col("dsir_weight"),
            key.alias("gumbel_key"),
        )
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(int(k))
    )


# ---------------------------------------------------------------------------
# Quality-weighted soft sampling (score-proportional keep)
# ---------------------------------------------------------------------------

def score_sample(docs: DataFrame,
                 weights: list[float] | None = None,
                 bias: float = 0.0,
                 rate_scale: float = 1.0,
                 text_col: str = "text",
                 id_col: str = "doc_id",
                 salt: str = "qs") -> DataFrame:
    """Score-proportional sampling: keep each document with
    probability ``classifier_score * rate_scale`` — the soft
    alternative to the hard ``classifier_threshold`` gate
    (FineWeb-Edu-style quality-weighted retention: borderline docs
    survive at reduced rate instead of a cliff at the threshold).

    Deterministic like every sampler here: a doc survives iff its
    16-bit md5 bucket falls below ``floor(score * rate_scale *
    0x10000)`` — RNG-free, engine-stable, growth-stable.  The score
    is the 6-digit-rounded logistic of ``classifier_score``, so the
    threshold integer is identical on both engines.

    100 TB shape: one codegen scan (score folds in the once-bound
    token array, the keep test is a map-side filter on the same
    projection) — composes under the scan's filter pushdown, zero
    shuffle.
    """
    score = bind_once(
        tokens_col(F.col(text_col)),
        lambda t: classifier_score_col(t, weights, bias),
    )
    bucket = sample_bucket_col(F.col(id_col), salt)
    out = docs.select(
        F.col(id_col),
        score.alias("cls_score"),
        bucket.alias("_bucket"),
    )
    return (
        out.filter(
            F.col("_bucket")
            < F.floor(F.col("cls_score") * F.lit(float(rate_scale))
                      * F.lit(65536.0))
        )
        .select(id_col, "cls_score")
    )


# ---------------------------------------------------------------------------
# Per-source distribution drift (smoothed unigram KL divergence)
# ---------------------------------------------------------------------------

def source_drift(docs: DataFrame, group_col: str = "source",
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-shard distribution drift: the smoothed unigram KL
    divergence of each ``group_col`` shard against the pooled corpus

        KL(P_s || P) = sum over corpus vocab t of
                       p_s(t) * ln(p_s(t) / p(t))

    with add-one smoothing over the corpus vocabulary (so zero-count
    shard terms contribute, and the sum is finite).  The standard
    monitoring signal a dump-over-dump crawl pipeline tracks: a new
    snapshot / source whose token distribution diverges (spam influx,
    parser regression, language shift) shows up as a KL jump before
    any downstream gate moves.

    100 TB shape: one explode feeding TWO map-side-combining hash
    aggregates ((shard, token) and (token)); totals ride broadcast
    1-row aggregates; the zero-count completion is the vocab table
    cross-joined against the (tiny, broadcast) shard list — linear in
    vocabulary size, never in corpus size, and nothing joins at token
    -stream cardinality.  Rounded to 6 (the ln contract).
    """
    toks = docs.select(
        F.col(group_col).alias("_grp"),
        F.explode(tokens_col(F.col(text_col))).alias("_tok"),
    )
    cs = toks.groupBy("_grp", "_tok").agg(
        F.count(F.lit(1)).alias("_cs")
    )
    vocab = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    totals = vocab.agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_v"),
    )
    shard_totals = cs.groupBy("_grp").agg(F.sum("_cs").alias("_ns"))
    full = (
        vocab.crossJoin(F.broadcast(shard_totals))
        .join(cs, on=["_grp", "_tok"], how="left")
        .crossJoin(F.broadcast(totals))
    )
    d = "double"
    p_s = (F.coalesce(F.col("_cs"), F.lit(0)) + 1).cast(d) \
        / (F.col("_ns") + F.col("_v")).cast(d)
    q = (F.col("_c") + 1).cast(d) / (F.col("_n") + F.col("_v")).cast(d)
    return (
        full.groupBy(F.col("_grp").alias(group_col))
        .agg(
            F.max("_ns").alias("shard_tokens"),
            F.round(F.sum(p_s * F.log(p_s / q)), 6).alias("kl_drift"),
        )
        .withColumn("shard_tokens", F.col("shard_tokens").cast("long"))
    )


# BM25 constants (the standard Robertson/Spärck-Jones defaults) —
# module-level so the Spark plan and the DuckDB oracle render the
# same literals from one place.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, queries: list[tuple[int, list[str]]],
              k: int = 10, k1: float = BM25_K1, b: float = BM25_B,
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k retrieval for a fixed query set over a document
    corpus -> ``(query_id, doc_id, score, rank)``.

    The training-data-pipeline use: targeted corpus search (find the
    documents most relevant to a benchmark prompt / audit query)
    without building a serving index — one batch pass produces the
    per-query ranked hit lists.

    Scale shape (the inverted-index pattern, restricted to the query
    vocabulary): tokens are filtered to the query-term set INSIDE the
    per-row projection (higher-order ``filter``, whole-stage codegen),
    so only matching tokens are ever exploded — the shuffle that
    builds the postings table carries O(matches), not O(corpus
    tokens).  Document frequency is a second map-side-combined
    aggregate over that small postings table; ``(N, avgdl)`` is a
    one-row aggregate broadcast via ``crossJoin``; the query-term
    table is broadcast.  Nothing materializes at corpus-token
    cardinality, so the plan survives a 100x scale-up: its cost is
    one codegen scan + shuffles proportional to query-term hits.

    Determinism contract: ``score`` is rounded to 9 decimals BEFORE
    ranking and ties break by ``doc_id``, so Spark and the DuckDB
    oracle rank identically (sum-order float noise is ~1e-15, far
    below the rounding grain).
    """
    terms = sorted({t for _, ts in queries for t in ts})
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(int(qid), t) for qid, ts in queries for t in sorted(set(ts))],
        "query_id long, term string",
    )

    toks = tokens_col(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        F.filter(toks, lambda x: x.isin(*terms)).alias("_hits"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    tf = (
        base.select(id_col, "_dl", F.explode("_hits").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))

    d = "double"
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_d = F.col("_tf").cast(d)
    contrib = idf * tf_d * (k1 + 1) / (
        tf_d + k1 * (1 - b + b * F.col("_dl").cast(d) / F.col("_avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(contrib), 9).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


# Winnowing layout constants: 30-bit k-gram hash packed above a
# 21-bit position field -> one BIGINT sort key per k-gram, so the
# rightmost-minimal-hash rule of the winnowing paper becomes a plain
# ``array_min``.  POS_CAP bounds the token count a single document
# may contribute (2^20 k-grams); longer documents should be chunked
# first (``chunk_documents``), which is the 100-TB-pipeline shape
# anyway.
WINNOW_HASH_MOD = 1 << 30
WINNOW_POS_FIELD = 1 << 21
WINNOW_POS_CAP = 1 << 20


def winnow_keys_udf(k: int = 3, w: int = 4):
    """Arrow-vectorized winnowing selection over a TOKEN-ARRAY column:
    identical arithmetic to the pure-codegen HOF selection the tests
    keep as reference (hashlib md5 of the joined k-gram is
    bit-identical to the JVM ``token_hash``; numpy sliding-window min
    replaces the per-window ``array_min(slice)`` lambda).  Tokens are
    computed JVM-side by ``tokens_col`` and shipped through Arrow, so
    no tokenization-regex seam crosses the language boundary.  Same
    interpreted-HOF tax as d16's CDC bounds: measured 9.6 → 0.9 s at
    sf0.1; parity pinned in tests/test_operators.py."""
    import hashlib

    from numpy.lib.stride_tricks import sliding_window_view

    @pandas_udf("array<long>")
    def _keys(tok_arrays: pd.Series) -> pd.Series:
        out = []
        for toks in tok_arrays:
            if toks is None:
                out.append([])
                continue
            toks = list(toks)
            m = len(toks) - (k - 1)
            if m < 1:
                out.append([])
                continue
            keys = np.empty(m, dtype=np.int64)
            for i in range(m):
                h = int(hashlib.md5(
                    " ".join(toks[i:i + k]).encode("utf-8")
                ).hexdigest()[:15], 16) % WINNOW_HASH_MOD
                keys[i] = h * WINNOW_POS_FIELD + (WINNOW_POS_CAP - (i + 1))
            wlen = min(w, m)
            mins = sliding_window_view(keys, wlen).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return _keys


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm) -> ``(doc_id, pos, fp)``.

    From the sequence of k-gram hashes, every window of ``w``
    consecutive hashes selects its minimum (rightmost occurrence on
    ties); the distinct selected (position, hash) pairs are the
    document's fingerprints.  Guarantees: any shared substring of
    length >= w + k - 1 tokens produces a shared fingerprint, so the
    output feeds span-level near-dup / plagiarism detection at a
    fraction of full-shingle cost.

    Scale shape: the whole selection runs INSIDE the row — one scan,
    zero shuffle, no window functions, no per-doc repartition.  The
    selection is one Arrow pass over the JVM-tokenized array
    (``winnow_keys_udf``; per-position HOF lambdas would pay the
    d16-documented interpreted tax — the tests keep that codegen form
    as the parity reference).
    Only the selected fingerprints (a ~2/(w+1) fraction of k-grams)
    are exploded.  The tie rule is encoded arithmetically: key =
    hash * 2^21 + (2^20 - pos), so the window minimum is the smallest
    hash and, among equals, the LARGEST position — exactly the
    paper's rightmost rule — with no struct comparisons (portable to
    the DuckDB mirror verbatim).

    Documents with fewer than ``w`` k-grams yield one fingerprint
    (the minimum over all of them), matching the paper's treatment
    of short inputs; documents with fewer than ``k`` tokens yield
    none.
    """
    if not (1 <= k and 1 <= w):
        raise ValueError("k and w must be >= 1")

    selected = winnow_keys_udf(k, w)(tokens_col(F.col(text_col)))
    key = F.explode(selected).alias("_key")
    out = docs.select(F.col(id_col), key)
    # no orderBy: the fingerprint set is unordered by contract (the
    # oracle compare is order-insensitive) and adding one would cost a
    # range-partition exchange on an otherwise shuffle-free plan
    return out.select(
        id_col,
        (F.lit(WINNOW_POS_CAP)
         - F.col("_key") % F.lit(WINNOW_POS_FIELD) - 1).alias("pos"),
        F.shiftright(F.col("_key"), 21).alias("fp"),
    )


# readability (t36): deterministic syllable surrogate = count of
# vowel GROUPS per token (min 1 — "rhythm", numbers), the standard
# dictionary-free approximation; sentences = terminal-punctuation
# runs (min 1).  All counts integral, so the Flesch arithmetic is the
# identical IEEE expression on both engines.
VOWEL_GROUP_RE = "[aeiouy]+"
SENTENCE_RE = "[.!?]+"
FRE_BASE, FRE_WPS, FRE_SPW = 206.835, 1.015, 84.6
FK_WPS, FK_SPW, FK_BASE = 0.39, 11.8, 15.59


def readability(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document.

    The classic prose-difficulty pair (Flesch 1948; Kincaid et al.
    1975) — used by webtext pipelines as a quality-mix *diagnostic*
    (a corpus whose FRE collapses toward 0 is legal/boilerplate-heavy;
    toward 100+ is listicle sludge) and as a gate band alongside the
    Gopher rules.  Syllables are approximated by vowel-group runs
    (``[aeiouy]+``, floor 1/token): dictionary-free, deterministic,
    and within ~5% of true counts on running English prose — the
    portable trade every large-scale implementation makes.

    Returns (id, token_cnt, sentence_cnt, syllable_cnt, fre,
    fk_grade); ``fre``/``fk_grade`` are NULL when the text has no
    tokens.  One codegen scan — no shuffle, no join, no Python; the
    token array binds once and both counts fold inside it.
    """
    def _counts(t):
        syl = F.aggregate(
            F.transform(t, lambda x: F.greatest(
                F.lit(1).cast("long"),
                F.regexp_count(x, F.lit(VOWEL_GROUP_RE)).cast("long"))),
            F.lit(0).cast("long"), lambda a, v: a + v)
        return F.struct(F.size(t).cast("long").alias("w"),
                        syl.alias("syl"))

    m = bind_once(tokens_col(F.col(text_col)), _counts)
    sent = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.col(text_col), F.lit(SENTENCE_RE)).cast("long"))
    w = F.col("_rd.w")
    syl = F.col("_rd.syl")
    wps = w.cast("double") / F.col("sentence_cnt").cast("double")
    spw = syl.cast("double") / w.cast("double")
    empty = w == 0
    return (
        docs.select(F.col(id_col), F.col(text_col), m.alias("_rd"))
        .withColumn("sentence_cnt", sent)
        .select(
            id_col,
            w.alias("token_cnt"),
            F.col("sentence_cnt"),
            syl.alias("syllable_cnt"),
            F.when(empty, F.lit(None).cast("double")).otherwise(
                F.lit(FRE_BASE) - F.lit(FRE_WPS) * wps
                - F.lit(FRE_SPW) * spw).alias("fre"),
            F.when(empty, F.lit(None).cast("double")).otherwise(
                F.lit(FK_WPS) * wps + F.lit(FK_SPW) * spw
                - F.lit(FK_BASE)).alias("fk_grade"),
        )
    )


def lexical_stats(docs: DataFrame, text_col: str = "text",
                  top_k: int = 100) -> DataFrame:
    """Corpus-level lexical-diversity diagnostics: one row with
    (token_cnt, type_cnt, ttr, hapax_cnt, hapax_frac, zipf_slope).

    TTR (type/token) and the hapax share are the standard diversity
    screens (a scraped-template corpus collapses both); ``zipf_slope``
    is the OLS slope of ln(freq) on ln(rank) over the ``top_k`` most
    frequent terms — healthy natural text sits near −1 (Zipf 1949),
    boilerplate floods flatten it, key-mash noise steepens it.  The
    dump-over-dump drift monitor (t33) watches distributions; this
    watches their SHAPE.

    Determinism: counts are exact integers; the slope's four sums
    each fold left in rank order (cnt DESC, term ASC ties) over a
    sorted in-row array, so both engines accumulate in the identical
    IEEE sequence — the t34 precedent for cross-engine ln().

    Scale shape: one map-side-combined unigram aggregate (the t10
    shape), a TakeOrdered top-k (never a global sort or window), and
    the regression folds run over one k-element array on one row.
    """
    counts = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = counts.agg(
        F.sum("cnt").cast("long").alias("token_cnt"),
        F.count(F.lit(1)).cast("long").alias("type_cnt"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long").alias("hapax_cnt"),
    )
    # TakeOrderedAndProject top-k, then ONE ordered array per corpus:
    # sort key (-cnt, term) makes sort_array ascending = rank order
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(top_k)
        .agg(F.sort_array(F.collect_list(F.struct(
            (-F.col("cnt")).alias("negcnt"), F.col("term").alias("term"),
            F.col("cnt").alias("cnt")))).alias("arr"))
    )

    def _slope(arr):
        pairs = F.transform(arr, lambda v, i: F.struct(
            F.log((i + F.lit(1)).cast("double")).alias("x"),
            F.log(v["cnt"].cast("double")).alias("y")))

        def _fsum(vals):
            return F.aggregate(vals, F.lit(0.0), lambda a, v: a + v)

        return bind_once(pairs, lambda p: bind_once(
            F.struct(
                _fsum(F.transform(p, lambda v: v["x"])).alias("sx"),
                _fsum(F.transform(p, lambda v: v["y"])).alias("sy"),
                _fsum(F.transform(p, lambda v: v["x"] * v["y"]))
                .alias("sxy"),
                _fsum(F.transform(p, lambda v: v["x"] * v["x"]))
                .alias("sxx"),
                F.size(p).cast("double").alias("n"),
            ),
            lambda s: F.when(s["n"] < 2, F.lit(None).cast("double"))
            .otherwise(
                (s["n"] * s["sxy"] - s["sx"] * s["sy"])
                / (s["n"] * s["sxx"] - s["sx"] * s["sx"])),
        ))

    return stats.crossJoin(top).select(
        "token_cnt", "type_cnt",
        (F.col("type_cnt").cast("double")
         / F.col("token_cnt").cast("double")).alias("ttr"),
        "hapax_cnt",
        (F.col("hapax_cnt").cast("double")
         / F.col("type_cnt").cast("double")).alias("hapax_frac"),
        _slope(F.col("arr")).alias("zipf_slope"),
    )


def strip_host_boilerplate(pages: DataFrame, min_pages: int = 3,
                           min_frac: float = 0.5,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           host_col: str = "host") -> DataFrame:
    """Per-HOST frequent-line boilerplate removal — the RefinedWeb /
    CCNet template-stripping rule (Penedo et al. 2023 §3.3 line-wise
    corrections; Wenzek et al. 2020 dedup-by-paragraph motivation):
    a line that recurs across many pages OF THE SAME HOST is site
    chrome (nav bars, cookie banners, footers), not content — strip
    EVERY occurrence.  Differs from :func:`dedup_lines_global` (C4's
    corpus-wide rule) in both scope (host-local) and verdict (all
    copies die; C4 keeps the first).

    A line is boilerplate on host H when it appears on ≥ ``min_pages``
    distinct pages of H AND on ≥ ``min_frac`` of H's pages — the
    absolute floor keeps tiny hosts from flagging on noise, the
    fraction keeps big hosts honest.

    Returns (id, host, line_cnt, removed_cnt, cleaned_text).

    100 TB shape: per-(host, line) page counts are one partial-agg
    groupBy (hash-balanced; a billion-occurrence banner combines
    map-side); host sizes are host-cardinality and broadcast; the
    verdict set (host, boilerplate line) is tiny by construction —
    real sites have dozens of chrome lines, not thousands — and
    broadcasts back onto the line stream, so the only corpus-scale
    shuffles are the count and the per-doc reassembly.
    """
    lines = pages.select(
        F.col(id_col), F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_i", "_line"),
    )
    per_line = lines.groupBy("host", "_line").agg(
        F.count_distinct(F.col(id_col)).alias("_pages"))
    host_sz = pages.groupBy(F.col(host_col).alias("host")).agg(
        F.count_distinct(F.col(id_col)).alias("_n"))
    bp = (
        per_line.join(F.broadcast(host_sz), on="host")
        .filter((F.col("_pages") >= min_pages)
                & (F.col("_pages") >= F.lit(min_frac) * F.col("_n")))
        .select("host", "_line", F.lit(True).alias("_bp"))
    )
    return (
        lines.join(F.broadcast(bp), on=["host", "_line"], how="left")
        .withColumn("_keep", F.col("_bp").isNull())
        .groupBy(id_col, "host")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1))
            .cast("long").alias("removed_cnt"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("_keep"),
                               F.struct(F.col("_i"), F.col("_line")))
                    )),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("cleaned_text"),
        )
    )


def sketch_stats(docs: DataFrame, text_col: str = "text",
                 group_col: str = "source",
                 rsd: float = 0.05,
                 percentiles: tuple = (0.5, 0.95),
                 accuracy: int = 10000) -> DataFrame:
    """Sketch-based corpus audit — the mergeable-summary versions of
    the stats :func:`corpus_stats` computes exactly: per-``group_col``
    HyperLogLog++ estimates of distinct content and vocabulary size,
    and quantile-sketch token-count percentiles.

    At 100 TB this is the ONLY shape that works: exact
    distinct-content counting shuffles every fingerprint, and exact
    vocabulary counting shuffles every (source, token) pair — both
    corpus-sized Exchanges producing a number.  HLL and
    percentile_approx sketches are bounded-size partial aggregates
    that combine map-side, so the whole audit is two scan→partial-agg
    passes (one over docs, one over the exploded token stream —
    vocabulary genuinely needs the token granularity) joined at
    group cardinality.  Nothing corpus-sized ever moves.

    Spark's sketches are deterministic (fixed-seed HLL++, the GK
    quantile algorithm), so results are stable run-to-run; they are
    NOT bit-mirrorable in another engine → rows-only driver check.
    Accuracy is pinned in pytest instead: HLL within 3·rsd of exact
    on the test corpus, and for groups smaller than ``accuracy`` the
    GK sketch is EXACT — percentile_approx must equal the exact
    discrete quantile (quantile_disc) there.
    """
    t = tokens_col(F.col(text_col))
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        F.xxhash64(F.col(text_col)).alias("_fp"),
        F.size(t).alias("_toks"),
    )
    base = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct("_fp", rsd).alias("distinct_content_est"),
        F.percentile_approx(
            "_toks", list(percentiles), accuracy
        ).alias("_pcts"),
    )
    vocab = (
        docs.select(F.col(group_col).alias("grp"),
                    F.explode(t).alias("_tok"))
        .groupBy("grp")
        .agg(F.approx_count_distinct("_tok", rsd).alias("vocab_est"))
    )
    out = base.join(vocab, on="grp", how="left").select(
        F.col("grp").alias(group_col),
        "n_docs", "distinct_content_est",
        F.coalesce("vocab_est", F.lit(0)).alias("vocab_est"),
        *[
            F.element_at("_pcts", i + 1).alias(
                f"p{int(p * 100)}_tokens")
            for i, p in enumerate(percentiles)
        ],
    )
    return out
