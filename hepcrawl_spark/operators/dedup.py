"""Near-duplicate detection: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale ladder (the 100 TB story):

- ``exact_dedup``          — one hash-groupBy; the cheapest gate.
- ``minhash_lsh_pairs``    — the scale path: per-document signatures
  are one Arrow-vectorized pandas-UDF pass (no shuffle), banding
  explodes only b small keys per doc, and the candidate join touches
  only colliding buckets.  Candidates are then *exactly* verified, so
  precision is 1.0 and recall is 1-(1-s^r)^b (~5e-8 misses at
  s ≥ 0.8 with r=4, b=32).
- ``ngram_jaccard_pairs``  — exact all-pairs Jaccard via an inverted
  shingle index; the correctness oracle for MinHash.  Quadratic in
  posting-list sizes, so at scale it runs only on LSH candidates
  (that is exactly what ``minhash_lsh_pairs`` does internally).
- ``simhash_pairs``        — Hamming-ball near-dup via 4×16-bit band
  pigeonhole join (any pair within Hamming ≤ 3 of 64 bits shares at
  least one exact 16-bit band; wider thresholds trade recall).

Banding, candidate joins and exact verification are JVM-native column
expressions; signature computation is Arrow-vectorized numpy (Spark's
higher-order-function lambdas evaluate interpreted and allocation-bound
— measured, they do not multi-core-scale).
"""

from __future__ import annotations

import hashlib
import re
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..lifetimes import fixpoint, persist, release
from .textops import WS_CLASS, WS_EDGE, bind_once, tokens_col

# The explicit cross-engine whitespace contract (see textops.WS_CLASS
# / WS_EDGE): NOT bare str.split() (Unicode superset: NBSP etc.), NOT
# \s (Java includes \x0b, RE2 does not), NOT trim/strip (DuckDB's trim
# strips Unicode spaces, Python/Java strip only ASCII) — the one regex
# pair all three engines read identically.  Every tokenizer below goes
# through this.
_WS_RE = re.compile(WS_CLASS)
_EDGE_RE = re.compile(WS_EDGE)


def _tokenize(t: str | None) -> list[str]:
    """Exact Python mirror of ``tokens_col`` / the DuckDB oracle
    (regex edge-trim + explicit-class split, lowercased) — including
    the engines' ``['']`` result for empty input."""
    return _WS_RE.split(_EDGE_RE.sub("", (t or "").lower()))


MINHASH_PERMS = 128
MINHASH_BAND_ROWS = 4  # r; b = PERMS / r = 32 bands
# r=4 keeps the candidate volume tiny on corpora whose random-pair
# similarity is ~0.1-0.3 (expected band hits per pair = b*s^4), while
# recall at s>=0.8 stays 1 - (1-0.8^4)^32 = 1 - 4.6e-8.

_PRIME = 2147483647  # 2^31-1; universal-hash modulus

def _splitmix(i: int) -> int:
    """Deterministic 64-bit mix (SplitMix64) for permutation constants."""
    z = (i * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _perm_consts(n: int):
    """(a_i, b_i) universal-hash constants: a odd, both < 2^30 so
    a*h32 + b never overflows int64 (h32 < 2^32)."""
    return [
        ((_splitmix(2 * i) & 0x3FFFFFFF) | 1, _splitmix(2 * i + 1) & 0x3FFFFFFF)
        for i in range(n)
    ]


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined), lowercased.

    SQL mirror: slide a window over ``regexp_split_to_array`` output.
    """
    def _grams(t):
        g = F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j + 1) for j in range(n)]
            ),
        )
        return F.array_distinct(
            F.when(F.size(t) >= n, g).otherwise(
                F.array().cast("array<string>")
            )
        )

    # bind_once: without it the regex tokenizer is inlined into every
    # element_at of the transform and re-runs per shingle position
    return bind_once(tokens_col(text), _grams)


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups by content hash (md5 of raw text).

    One hash-groupBy with map-side partial aggregation; the canonical
    survivor is the smallest id (deterministic).
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def span_array(t: Column, w: int) -> Column:
    """All ``w``-token spans of token array ``t`` — one per start
    position (NON-distinct, unlike :func:`shingles_col`), space-joined;
    empty array below ``w`` tokens.  SQL mirror: ``t[i] || ' ' || …``
    over ``range(1, len(t) - w + 2)``."""
    return F.when(
        F.size(t) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - w),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j + 1) for j in range(w)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def span_dupfrac(docs: DataFrame, w: int = 3, min_count: int = 2,
                 text_col: str = "text",
                 id_col: str = "doc_id",
                 max_span_df: int | None = None) -> DataFrame:
    """Per-document corpus-duplicated span fraction: for every token
    position, the ``w``-token span starting there is "duplicated" when
    the same span occurs ≥ ``min_count`` times across the WHOLE corpus
    (within-doc repeats included — position-level counting, the
    public exact-substring-dedup signal of Lee et al. 2022, here at
    fixed span width so it stays a linear scan instead of a suffix
    array).  Returns (id, span_cnt, dup_spans, dup_frac).

    Plan shape at 100 TB: spans explode once from a once-bound token
    array; corpus frequencies come from a hash groupBy (map-side
    partial agg — a stop-span appearing everywhere partial-aggregates
    per task, so no hot-key task exists at the count).  The flag join
    back carries ONLY spans that can flip the verdict (freq ≥
    ``min_count``, a small fraction of distinct spans in a real
    corpus), and remains hot-key-skewed by construction; it is left
    to AQE skew-join splitting rather than a window
    (``count() over (partition by span)`` would funnel every
    occurrence of a stop-span through one task — the exact hazard the
    groupBy avoids).  Docs shorter than ``w`` tokens report zero
    spans and dup_frac 0.0.

    ``max_span_df`` is the d05-style stop-span guardrail: spans whose
    corpus occurrence count exceeds the cap ("the of the"-grade
    boilerplate, the skewed keys of the flag join) are dropped from
    the span UNIVERSE — both ``span_cnt`` and ``dup_spans`` count
    surviving spans only — bounding the hottest join key at exactly
    ``max_span_df`` rows.  ``None`` (default) is the exact d07
    measure.
    """
    sp = docs.select(
        F.col(id_col),
        F.explode_outer(
            bind_once(tokens_col(F.col(text_col)),
                      lambda t: span_array(t, w))
        ).alias("_span"),
    )
    freq = (
        sp.filter(F.col("_span").isNotNull())
        .groupBy("_span").agg(F.count(F.lit(1)).alias("_freq"))
    )
    if max_span_df is None:
        # only duplicated spans need to travel through the flag join
        joined = sp.join(
            freq.filter(F.col("_freq") >= min_count), on="_span",
            how="left",
        )
        span_cnt = F.count("_span")
    else:
        # capped universe: a pruned span leaves _freq null, dropping
        # it from both counts
        joined = sp.join(
            freq.filter(F.col("_freq") <= max_span_df), on="_span",
            how="left",
        )
        span_cnt = F.count("_freq")
    return (
        joined.groupBy(id_col)
        .agg(
            span_cnt.alias("span_cnt"),
            F.coalesce(
                F.sum((F.col("_freq") >= min_count).cast("long")),
                F.lit(0),
            ).alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.when(
                F.col("span_cnt") > 0,
                F.round(
                    F.col("dup_spans").cast("double")
                    / F.col("span_cnt").cast("double"), 9
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def span_rewrite(docs: DataFrame, w: int = 3, min_count: int = 2,
                 text_col: str = "text", id_col: str = "doc_id",
                 max_span_df: int | None = None) -> DataFrame:
    """Duplicate-span REMOVAL — the rewrite half of the
    exact-substring-dedup recipe (Lee et al. 2022; the public
    deduplicate-text-datasets tool cuts the flagged bytes, it doesn't
    just score them): every token covered by a ``w``-token span that
    occurs ≥ ``min_count`` times corpus-wide (position-level, within-
    doc repeats included — :func:`span_dupfrac`'s exact signal) is cut
    from the document.  Returns (id, token_cnt, removed_cnt,
    cleaned_text); ``cleaned_text`` is the surviving tokens space-
    joined in original order, i.e. the rewrite lives in NORMALIZED
    token space (lowercased, single-space) — the form every
    downstream operator here tokenizes back to identically.

    Plan shape at 100 TB: span frequencies are the same map-side
    partial-agg groupBy as ``span_dupfrac``; the flag join back is
    INNER and carries only duplicated-span occurrences (clean
    positions — the vast majority — never shuffle), then collapses to
    ONE row per affected document (a sorted start-position array,
    bounded by doc length).  The rewrite itself is a per-row nested
    higher-order filter: token ``j`` survives iff no flagged start
    ``s`` has ``s ≤ j ≤ s+w-1`` — O(tokens × flagged starts) per doc,
    shuffle-free, no Python.  ``max_span_df`` bounds the hottest flag-
    join key exactly as in d08: spans above the cap ("the of the"-
    grade stop-spans) are left in place — at corpus scale they are
    boilerplate for the within-doc ops, not near-dup evidence — so
    one universal span cannot route the whole corpus through the
    join.
    """
    sp = docs.select(
        F.col(id_col),
        F.posexplode(
            bind_once(tokens_col(F.col(text_col)),
                      lambda t: span_array(t, w))
        ).alias("_pos", "_span"),
    )
    dup = (
        sp.groupBy("_span").agg(F.count(F.lit(1)).alias("_freq"))
        .filter(F.col("_freq") >= min_count)
    )
    if max_span_df is not None:
        dup = dup.filter(F.col("_freq") <= max_span_df)
    flagged = (
        sp.join(dup.select("_span"), on="_span", how="inner")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_pos")).alias("_starts"))
    )

    def _rw(t):
        starts = F.coalesce(F.col("_starts"),
                            F.array().cast("array<int>"))
        keep = F.filter(
            t,
            lambda tok, j: ~F.exists(
                starts, lambda s: (s <= j) & (j <= s + F.lit(w - 1))
            ),
        )
        return F.struct(
            F.size(t).cast("long").alias("n"),
            (F.size(t) - F.size(keep)).cast("long").alias("rm"),
            F.array_join(keep, " ").alias("txt"),
        )

    out = bind_once(tokens_col(F.col(text_col)), _rw)
    return (
        docs.join(flagged, on=id_col, how="left")
        .select(F.col(id_col), out.alias("_c"))
        .select(
            id_col,
            F.col("_c.n").alias("token_cnt"),
            F.col("_c.rm").alias("removed_cnt"),
            F.col("_c.txt").alias("cleaned_text"),
        )
    )


def benchmark_contamination(docs: DataFrame, benchmark: DataFrame,
                            n: int = 13, min_hits: int = 1,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            bench_text_col: str | None = None,
                            ) -> DataFrame:
    """Benchmark-decontamination signal: per-document overlap with a
    held-out evaluation set, by distinct word ``n``-gram containment
    (the standard eval-contamination control — 13-gram overlap in the
    GPT-3/PaLM appendices; Lee et al. 2022 §6).

    Returns ``(id, gram_cnt, hit_cnt, containment, contaminated)``:
    ``gram_cnt`` distinct n-grams in the doc, ``hit_cnt`` of them that
    appear anywhere in ``benchmark``, ``containment`` their ratio, and
    ``contaminated`` = hit_cnt ≥ ``min_hits``.  Docs shorter than
    ``n`` tokens have zero grams, containment 0.0, never flagged.

    Plan shape at 100 TB: the benchmark side is deduplicated to
    DISTINCT grams before the join, so each doc-gram row matches at
    most once — the equi-join output is LINEAR in corpus grams, never
    quadratic (no posting-list blow-up to cap, unlike the d02 shingle
    self-join).  Eval suites are tiny next to a training corpus, so
    the gram side is broadcast explicitly (a skewed shuffle join on a
    hot gram never happens); per-doc counts are one hash groupBy with
    map-side partial aggregation.
    """
    doc_grams = docs.select(
        F.col(id_col),
        F.explode_outer(shingles_col(F.col(text_col), n)).alias("_gram"),
    )
    return (
        doc_grams.join(F.broadcast(_bench_grams(benchmark, n,
                                                bench_text_col or text_col)),
                       on="_gram", how="left")
        .groupBy(id_col)
        .agg(
            F.count("_gram").alias("gram_cnt"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
            .alias("hit_cnt"),
        )
        .withColumn(
            "containment",
            F.when(
                F.col("gram_cnt") > 0,
                F.round(
                    F.col("hit_cnt").cast("double")
                    / F.col("gram_cnt").cast("double"), 9
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("contaminated", F.col("hit_cnt") >= min_hits)
    )


def _bench_grams(benchmark: DataFrame, n: int, text_col: str) -> DataFrame:
    """DISTINCT word n-grams of the benchmark side, as ``_gram``/``_hit``."""
    return (
        benchmark.select(
            F.explode(shingles_col(F.col(text_col), n)).alias("_gram")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )


def contaminated_ids(docs: DataFrame, benchmark: DataFrame,
                     n: int = 13, min_hits: int = 1,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     bench_text_col: str | None = None) -> DataFrame:
    """Ids of documents whose benchmark n-gram overlap reaches
    ``min_hits`` — the decontamination FILTER half of
    :func:`benchmark_contamination`, cheaper because the broadcast
    join is INNER: clean documents (the overwhelming majority at
    corpus scale) produce zero join output and never reach the
    aggregation, so the shuffle carries only actual hits.
    """
    hits = docs.select(
        F.col(id_col),
        F.explode(shingles_col(F.col(text_col), n)).alias("_gram"),
    ).join(
        F.broadcast(_bench_grams(benchmark, n,
                                 bench_text_col or text_col)),
        on="_gram", how="inner",
    )
    if min_hits <= 1:
        return hits.select(id_col).distinct()
    return (
        hits.groupBy(id_col).agg(F.count("_gram").alias("_h"))
        .filter(F.col("_h") >= min_hits).select(id_col)
    )


def bench_gram_list(benchmark: DataFrame, n: int = 13,
                    text_col: str = "text",
                    max_grams: int = 50_000) -> list:
    """The benchmark's DISTINCT n-grams as a plain Python list — the
    form a STREAMING decontamination gate needs: baked into the plan
    as a literal array, the per-row overlap check is stateless
    codegen, legal in any micro-batch position (no stream-side
    aggregation, no join state).  Eval suites are small by nature;
    ``max_grams`` guards against feeding a corpus in by mistake (a
    10^5-gram literal is fine, a 10^9 one is a driver OOM — use the
    batch ``contaminated_ids`` broadcast join for anything big).
    This is one of the package's few ``collect()`` calls, bounded by
    the same guard.
    """
    grams = [
        r._gram
        for r in _bench_grams(benchmark, n, text_col)
        .select("_gram").limit(max_grams + 1).collect()
    ]
    if len(grams) > max_grams:
        raise ValueError(
            f"benchmark has more than {max_grams} distinct {n}-grams; "
            "use contaminated_ids (broadcast join) instead of the "
            "literal-array gate"
        )
    return sorted(grams)


def contaminated_flag_col(text: Column, grams: list,
                          n: int = 13) -> Column:
    """Boolean column: does ``text`` share any word n-gram with the
    (driver-collected) benchmark gram list?  Pure codegen
    (``arrays_overlap`` against a literal array) — usable in batch
    filters AND inside a streaming micro-batch before any stateful
    stage."""
    if not grams:
        return F.lit(False)
    return F.arrays_overlap(
        shingles_col(text, n),
        F.lit([str(g) for g in grams]),
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_shingle_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted shingle index.

    pairs sharing ≥1 shingle → |A∩B| by count, |A∪B| = |A|+|B|-|A∩B|.
    Jaccard is a small-int ratio → bit-exact across engines.

    Scale guardrails: the shingle self-join is **quadratic in
    posting-list length** — at corpus scale either use
    ``minhash_lsh_pairs`` (verifies with this exact measure but only
    on LSH candidates; the default scale path) or set
    ``max_shingle_df`` to drop stop-shingles whose document frequency
    exceeds the cap before the join (standard stop-shingle pruning:
    a shingle shared by k docs contributes k² join rows; capping k
    bounds the worst posting list while near-dup pairs, which share
    many *rare* shingles, still collide).  ``max_shingle_df=None``
    (default) is the exact variant — the d02 oracle; with a cap the
    Jaccard is computed over the *pruned* shingle sets (both
    intersection and sizes), the standard stop-shingle measure.
    """
    # spread the input FIRST: a single-row-group parquet would run the
    # (interpreted higher-order-function) shingling in one task —
    # measured 40 s → ~3 s at sf0.1 on 32 cores
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, on="shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        inter.join(F.broadcast(sizes.withColumnRenamed("n_sh", "n_a")),
                   inter.doc_a == F.col("doc_id")).drop("doc_id")
        .join(F.broadcast(sizes.withColumnRenamed("n_sh", "n_b")),
              inter.doc_b == F.col("doc_id")).drop("doc_id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def ngram_containment_pairs(docs: DataFrame, n: int = 3,
                            threshold: float = 0.8,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            max_shingle_df: int | None = None) -> DataFrame:
    """Asymmetric shingle containment pairs (Broder's *containment*,
    the resemblance companion measure): C(A,B) = |A∩B| / |A|.

    Jaccard misses subset duplication — a short doc fully quoted
    inside a long one has |A∩B| = |A| but union ≈ |B|, so resemblance
    ≈ |A|/|B| → 0 while containment = 1.  This is the measure public
    pipelines use to catch quote/excerpt/wrapper duplication (e.g. a
    press release embedded in a longer article), per Broder 1997 "On
    the resemblance and containment of documents".

    Returns (doc_a, doc_b, cont_a, cont_b, containment) for pairs with
    ``containment = max(cont_a, cont_b) >= threshold`` where
    ``cont_a = |A∩B|/|A|`` (how much of A lies inside B) and vice
    versa.  All three are small-int ratios → bit-exact cross-engine.

    Scale shape: identical inverted-index join as
    :func:`ngram_jaccard_pairs` (same posting-list quadratic, same
    ``max_shingle_df`` stop-shingle cap; at corpus scale run it on
    LSH candidates or capped).  Reference analog: none — this is a
    training-data-pipeline operator beyond the reference crawler.
    """
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, on="shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c = (
        inter.join(F.broadcast(sizes.withColumnRenamed("n_sh", "n_a")),
                   inter.doc_a == F.col("doc_id")).drop("doc_id")
        .join(F.broadcast(sizes.withColumnRenamed("n_sh", "n_b")),
              inter.doc_b == F.col("doc_id")).drop("doc_id")
        .withColumn("cont_a",
                    F.col("n_inter").cast("double") / F.col("n_a").cast("double"))
        .withColumn("cont_b",
                    F.col("n_inter").cast("double") / F.col("n_b").cast("double"))
        .withColumn("containment", F.greatest("cont_a", "cont_b"))
    )
    return c.filter(F.col("containment") >= threshold).select(
        "doc_a", "doc_b", "cont_a", "cont_b", "containment"
    )


def minhash_signature_udf(n: int = 3, perms: int = MINHASH_PERMS):
    """Arrow-vectorized MinHash signatures (the scale path).

    Spark's higher-order-function lambdas evaluate *interpreted* (one
    boxed JVM call per element — measured ~1 µs each, and the
    allocation rate kills multi-core scaling), so signatures are
    computed in a pandas UDF instead: each shingle is crc32-hashed
    once, then all ``perms`` permutation values derive from one numpy
    broadcast ``(A·h + B) mod p`` — the standard universal-hash
    MinHash construction, vectorized end-to-end over the Arrow batch.

    Signatures are engine-internal (candidates are exactly verified
    afterwards), so no cross-engine oracle depends on these hash
    values — only determinism, which crc32 + fixed constants give.
    """
    consts = _perm_consts(perms)
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    empty = [int(1 << 62)] * perms

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = _tokenize(t)
            if len(toks) < n:
                out.append(empty)
                continue
            sh = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
            hs = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in sh),
                dtype=np.int64, count=len(sh),
            )
            out.append(((A * hs + B) % _PRIME).min(axis=1).tolist())
        return pd.Series(out)

    return _sig


def minhash_bands_udf(n: int = 3, perms: int = MINHASH_PERMS,
                      band_rows: int = MINHASH_BAND_ROWS):
    """One Arrow pass → (shingles, LSH band keys) per document.

    Shingling, signature and banding all happen in a single vectorized
    batch (JVM higher-order functions are interpreted and
    allocation-bound — they measured as the scaling bottleneck, see
    ``minhash_signature_udf``).  Band keys are 64-bit (two crc32
    halves) so cross-signature collisions are negligible; any false
    candidate is removed by the exact-Jaccard verify anyway.

    Tokenization is ``_tokenize`` (ASCII ``\\s+``), byte-identical to
    the JVM/DuckDB exact paths even on web text with Unicode
    whitespace — the LSH candidates verify against exactly the same
    shingle sets the exact oracle computes.
    """
    consts = _perm_consts(perms)
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    n_bands = perms // band_rows

    @pandas_udf("struct<sh: array<string>, bands: array<long>>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        sh_out, band_out = [], []
        for t in texts:
            toks = _tokenize(t)
            if len(toks) < n:
                sh_out.append([])
                band_out.append([])
                continue
            sh = sorted({
                " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
            })
            hs = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in sh),
                dtype=np.int64, count=len(sh),
            )
            sig = ((A * hs + B) % _PRIME).min(axis=1)
            bands = []
            for b in range(n_bands):
                key = ("%d:%s" % (
                    b, ",".join(map(str, sig[b * band_rows:(b + 1) * band_rows]))
                )).encode("ascii")
                v = (zlib.crc32(key) << 32) | zlib.crc32(b"s" + key)
                bands.append(v - (1 << 64) if v >= 1 << 63 else v)
            sh_out.append(sh)
            band_out.append(bands)
        return pd.DataFrame({"sh": sh_out, "bands": band_out})

    return _f


def minhash_base(docs: DataFrame, n: int = 3, perms: int = MINHASH_PERMS,
                 band_rows: int = MINHASH_BAND_ROWS,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sh, bands) — one Arrow pass over the spread corpus;
    shared by the LSH pipeline and the growth bench."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    f = minhash_bands_udf(n, perms, band_rows)
    # short-doc filter on the JVM side, NOT on the UDF output: a
    # ``filter(size(sh) > 0)`` after the select substitutes the alias
    # and re-evaluates the whole Python UDF a second time — and the
    # filter copy pushes below the repartition, i.e. a SERIAL UDF pass
    # over the scan's native partitioning (measured 2.9s -> 0.9s at
    # sf0.1).  ``sh`` is empty iff the doc has < n tokens, which the
    # codegen tokenizer checks for ~free at the scan.
    return (
        docs.filter(F.size(tokens_col(F.col(text_col))) >= n)
        .repartition(par)
        .select(F.col(id_col).alias("doc_id"), f(F.col(text_col)).alias("t"))
        .select("doc_id", F.col("t.sh").alias("sh"),
                F.col("t.bands").alias("bands"))
    )


def _band_candidates(base: DataFrame) -> DataFrame:
    banded = base.select("doc_id", F.explode("bands").alias("band_key"))
    return (
        banded.alias("a")
        .join(banded.alias("b"), on="band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def minhash_candidate_pairs(docs: DataFrame, n: int = 3,
                            perms: int = MINHASH_PERMS,
                            band_rows: int = MINHASH_BAND_ROWS,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Banded-MinHash candidate pairs BEFORE the exact-Jaccard verify —
    the volume knob of ``minhash_lsh_pairs``, exposed for the
    sub-quadratic growth bench (bench_scaling --lsh-growth)."""
    return _band_candidates(
        minhash_base(docs, n, perms, band_rows, text_col, id_col)
    )


def ngram_candidate_pairs(docs: DataFrame, n: int = 3,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Distinct pairs sharing ≥ 1 shingle — the inverted-index join
    volume of exact ``ngram_jaccard_pairs``: the QUADRATIC control the
    growth bench compares the LSH paths against."""
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )
    return (
        sh.alias("a")
        .join(sh.alias("b"), on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                      perms: int = MINHASH_PERMS,
                      band_rows: int = MINHASH_BAND_ROWS,
                      text_col: str = "text",
                      id_col: str = "doc_id", *,
                      caches: list[DataFrame] | None = None) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verify.

    Output (doc_a, doc_b, jaccard) — identical to exact
    ``ngram_jaccard_pairs`` up to LSH recall (1-(1-s^r)^b; ~5e-8 miss
    at s=0.8, r=4, b=32).  The persisted (id, shingles, bands) frame
    goes into ``caches`` — release it after materializing
    (``lifetimes.release``; ``clean_corpus_full`` does).
    """
    n_bands = perms // band_rows  # noqa: F841 (documented parameterization)
    # one Arrow pass computes shingles + band keys; everything after
    # is JVM-native joins.  A narrow input (single-row-group parquet)
    # is spread across the cluster first.
    par = docs.sparkSession.sparkContext.defaultParallelism
    # persist: the plan references base FOUR times (band self-join ×2 +
    # the two verify sides); without the cache each reference re-runs
    # the corpus-wide Arrow pass.  The cached frame is (id, shingles,
    # bands) — tiny next to the corpus it derives from.
    base = persist(minhash_base(docs, n, perms, band_rows, text_col, id_col),
                   caches)
    cands = _band_candidates(base)
    # candidates are explicitly re-spread — AQE coalesces the tiny
    # post-distinct shuffle to ~1 partition, which would serialize the
    # per-pair array_intersect verify
    sets_a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sets_b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.repartition(par)
        .join(sets_a, on="doc_a").join(sets_b, on="doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   max_iters: int = 20, *,
                   caches: list[DataFrame] | None = None) -> DataFrame:
    """Connected components over a near-dup pair graph → one canonical
    representative per document: ``(doc_id, cluster_id)`` where
    ``cluster_id`` is the smallest doc id in the component (documents
    in no pair are their own cluster).  This is the step that turns
    pairwise near-dup detection (d02/d03/d04) into an actionable
    keep/drop decision over the corpus.

    Algorithm: iterated *hash-to-min* label propagation — each round
    every node adopts the minimum label in its closed neighborhood
    (one join + one groupBy per round), until a round changes nothing.
    Rounds needed = graph diameter; near-dup components are
    near-cliques (members share most shingles, so most pairs exist),
    giving 2-3 rounds in practice — at 100 TB each round is two
    shuffles on the (small) pair set, not on the corpus.  The loop is
    ``lifetimes.fixpoint``: each round's labels are checkpointed
    eagerly, the convergence probe is an aggregate (no collect of data
    rows), and the final labels' checkpoint goes into ``caches``.
    ``max_iters`` bounds pathological chain graphs (a chain is what
    LSH near-dup graphs do not look like; hitting the bound raises
    ``RuntimeError``).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .persist()
    )
    # labels only for nodes that appear in an edge; singletons join back
    # at the end (keeps every iteration proportional to the graph, not
    # the corpus)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def step(labels: DataFrame, _scratch) -> DataFrame:
        neighbor_min = (
            edges.join(labels, on=edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        return (
            labels.join(neighbor_min, on=labels.node == neighbor_min.u, how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )

    def changed(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), on="node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        ) > 0

    try:
        labels = fixpoint(labels, step, max_iters, caches=caches,
                          changed=changed)
    finally:
        release([edges])
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels, on=F.col("doc_id") == labels.node, how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def simhash_udf(bits: int = 64):
    """Arrow-vectorized 64-bit SimHash over whitespace tokens.

    Same design rationale as ``minhash_signature_udf``, but the token
    hash is the *portable* md5-60-bit hash (``textops.token_hash``
    pattern, reduced mod 2^31-1) instead of an engine-native one —
    every engine computes the identical fingerprint, so simhash pairs
    are fully oracle-checkable in DuckDB SQL (d04).  Per-bit ±1 votes
    come from the universal-hash family as a numpy broadcast; sign
    bits pack into a signed 64-bit fingerprint.
    """
    consts = _perm_consts(bits)
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        from collections import Counter

        # votes are Σ_token count(token)·vote_vector(token) — integer
        # addition, so regrouping by UNIQUE token is bit-exact while
        # the md5 + universal-hash fan-out runs once per distinct
        # token per batch (web text repeats tokens heavily; measured
        # ~2× on the d04 bench leg)
        cache: dict = {}
        out = []
        for t in texts:
            toks = _tokenize(t)
            # _tokenize never returns [] (empty text → ['']), matching
            # the SQL mirror exactly; md5('') votes like any token.
            counts = Counter(toks)
            fresh = [tk for tk in counts if tk not in cache]
            if fresh:
                hs = np.fromiter(
                    (
                        int(hashlib.md5(tk.encode("utf-8"))
                            .hexdigest()[:15], 16) % _PRIME
                        for tk in fresh
                    ),
                    dtype=np.int64, count=len(fresh),
                )
                vote_mat = (((A * hs + B) % _PRIME) & 1) * 2 - 1
                for j, tk in enumerate(fresh):
                    cache[tk] = vote_mat[:, j]
            votes = np.zeros(bits, dtype=np.int64)
            for tk, c in counts.items():
                votes += cache[tk] * c
            v = 0
            for b in range(bits):
                if votes[b] > 0:
                    v |= 1 << b
            if v >= 1 << 63:
                v -= 1 << 64
            out.append(v)
        return pd.Series(out)

    return _simhash


def simhash_pairs(docs: DataFrame, hamming_max: int = 3,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs within a Hamming ball via band pigeonhole.

    Split the 64-bit fingerprint into 4 contiguous 16-bit bands; any
    pair with Hamming distance ≤ 3 matches exactly on ≥ 1 band, so the
    candidate join is an equi-join on (band_id, band_value), then an
    exact ``bit_count(xor)`` filter.
    """
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sims = docs.select(
        F.col(id_col).alias("doc_id"),
        simhash_udf()(F.col(text_col)).alias("simhash"),
    )
    bands = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), 16 * k)
                .bitwiseAND(F.lit(0xFFFF))
                for k in range(4)
            ])
        ).alias("band_id", "band_val"),
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), on=["band_id", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= hamming_max)


def cross_corpus_dedup(new_docs: DataFrame, ref_docs: DataFrame,
                       n: int = 3, threshold: float = 0.8,
                       text_col: str = "text", id_col: str = "doc_id",
                       max_shingle_df: int | None = None) -> DataFrame:
    """Incremental-dump dedup: flag every NEW document that duplicates
    the existing REFERENCE corpus — the step public pipelines run on
    each fresh crawl snapshot before it joins the training set (e.g.
    dedup of a new Common Crawl dump against prior dumps).  Returns
    one row per new document: (id, exact_dup, near_cnt, max_jaccard,
    keep) with ``keep = 1`` iff the document is neither an exact nor
    a near duplicate of anything in the reference.

    exact: md5(text) membership against the DISTINCT reference hash
    set (semi-join shape — the hash set is tiny next to the corpus
    and broadcastable).  near: distinct n-gram shingle inverted index
    joined NEW x REF only — never new x new, never ref x ref, so the
    join is linear in the new snapshot for a fixed reference posting
    profile.  ``max_shingle_df`` prunes stop-shingles by REFERENCE
    document frequency (the historical side is the big one) from BOTH
    sides before the join, the d05 guardrail measure.  Jaccard is a
    small-int ratio — bit-exact cross-engine; the threshold compares
    the unrounded value (like d02), the reported max rounds to 9.

    100 TB shape: the reference shingle index is the reusable asset —
    build it once per corpus generation, hash-partitioned by shingle,
    and stream each new snapshot's (much smaller) shingle set against
    it; sizes join back broadcast; one narrow output row per new doc.
    """
    new_sh = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )
    ref_sh = ref_docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        rare = (
            ref_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        new_sh = new_sh.join(rare, on="shingle")
        ref_sh = ref_sh.join(rare, on="shingle")
    new_sz = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_n"))
    ref_sz = ref_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_r"))
    inter = (
        new_sh.alias("a")
        .join(ref_sh.alias("b"), on="shingle")
        .groupBy(
            F.col("a.doc_id").alias("dn"),
            F.col("b.doc_id").alias("dr"),
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    pairs = (
        inter
        .join(F.broadcast(new_sz.withColumnRenamed("doc_id", "dn")),
              on="dn")
        .join(F.broadcast(ref_sz.withColumnRenamed("doc_id", "dr")),
              on="dr")
        .withColumn(
            "j",
            F.col("ni").cast("double")
            / (F.col("n_n") + F.col("n_r") - F.col("ni")).cast("double"),
        )
        .filter(F.col("j") >= F.lit(threshold))
    )
    near = pairs.groupBy("dn").agg(
        F.count(F.lit(1)).alias("near_cnt"),
        F.round(F.max("j"), 9).alias("max_jaccard"),
    )
    ref_h = ref_docs.select(
        F.md5(F.col(text_col)).alias("_h")
    ).distinct().withColumn("_e", F.lit(1))
    return (
        new_docs.select(F.col(id_col).alias("doc_id"),
                        F.md5(F.col(text_col)).alias("_nh"))
        .join(F.broadcast(ref_h), F.col("_nh") == F.col("_h"), "left")
        .join(near, F.col("doc_id") == F.col("dn"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_e"), F.lit(0)).alias("exact_dup"),
            F.coalesce(F.col("near_cnt"), F.lit(0).cast("long"))
            .alias("near_cnt"),
            F.coalesce(F.col("max_jaccard"), F.lit(0.0))
            .alias("max_jaccard"),
            ((F.coalesce(F.col("_e"), F.lit(0)) == 0)
             & F.col("near_cnt").isNull()).cast("int").alias("keep"),
        )
    )


def cross_corpus_lsh(new_docs: DataFrame, ref_docs: DataFrame,
                     n: int = 3, threshold: float = 0.8,
                     perms: int = MINHASH_PERMS,
                     band_rows: int = MINHASH_BAND_ROWS,
                     text_col: str = "text",
                     id_col: str = "doc_id", *,
                     caches: list[DataFrame] | None = None) -> DataFrame:
    """The banded-MinHash scale path of ``cross_corpus_dedup``: same
    output contract — one row per NEW document, (id, exact_dup,
    near_cnt, max_jaccard, keep) — but candidates come from a
    NEW×REF band equi-join instead of the shingle inverted index, so
    the join volume is bands-colliding pairs only (recall
    1-(1-s^r)^b, ~5e-8 misses at s ≥ 0.8 with r=4, b=32), and the
    verify is the exact distinct-shingle Jaccard on candidates, so
    precision is 1.0 and the d11 mirror is shared verbatim.

    100 TB shape: the REFERENCE (id, shingles, bands) frame is the
    reusable per-generation asset — build once per corpus snapshot,
    keep hash-partitioned by band key; each new dump computes its own
    one-Arrow-pass base (linear in the dump) and probes the index
    with an equi-join.  Exact verification touches only colliding
    pairs; the md5 exact half is a broadcast semi-join like d11.
    Both persisted bases go into ``caches`` — release them after
    materializing (``lifetimes.release``).
    """
    par = new_docs.sparkSession.sparkContext.defaultParallelism
    new_base = persist(minhash_base(
        new_docs, n, perms, band_rows, text_col, id_col), caches)
    ref_base = persist(minhash_base(
        ref_docs, n, perms, band_rows, text_col, id_col), caches)
    nb = new_base.select(
        F.col("doc_id").alias("dn"), F.explode("bands").alias("band_key"))
    rb = ref_base.select(
        F.col("doc_id").alias("dr"), F.explode("bands").alias("band_key"))
    cands = nb.join(rb, on="band_key").select("dn", "dr").distinct()
    # verify on RAW distinct shingle sets (not the crc-hashed sh) so
    # the jaccard is byte-identical to the d11 oracle's
    sets_n = new_docs.select(
        F.col(id_col).alias("dn"),
        shingles_col(F.col(text_col), n).alias("sh_n"),
    )
    sets_r = ref_docs.select(
        F.col(id_col).alias("dr"),
        shingles_col(F.col(text_col), n).alias("sh_r"),
    )
    verified = (
        cands.repartition(par)
        .join(sets_n, on="dn").join(sets_r, on="dr")
        .withColumn("ni", F.size(F.array_intersect("sh_n", "sh_r")))
        .withColumn(
            "j",
            F.col("ni").cast("double")
            / (F.size("sh_n") + F.size("sh_r")
               - F.col("ni")).cast("double"),
        )
        .filter(F.col("j") >= F.lit(threshold))
    )
    near = verified.groupBy("dn").agg(
        F.count(F.lit(1)).alias("near_cnt"),
        F.round(F.max("j"), 9).alias("max_jaccard"),
    )
    ref_h = ref_docs.select(
        F.md5(F.col(text_col)).alias("_h")
    ).distinct().withColumn("_e", F.lit(1))
    return (
        new_docs.select(F.col(id_col).alias("doc_id"),
                        F.md5(F.col(text_col)).alias("_nh"))
        .join(F.broadcast(ref_h), F.col("_nh") == F.col("_h"), "left")
        .join(near, F.col("doc_id") == F.col("dn"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_e"), F.lit(0)).alias("exact_dup"),
            F.coalesce(F.col("near_cnt"), F.lit(0).cast("long"))
            .alias("near_cnt"),
            F.coalesce(F.col("max_jaccard"), F.lit(0.0))
            .alias("max_jaccard"),
            ((F.coalesce(F.col("_e"), F.lit(0)) == 0)
             & F.col("near_cnt").isNull()).cast("int").alias("keep"),
        )
    )


def cluster_representatives(docs: DataFrame, pairs: DataFrame,
                            quality: DataFrame,
                            id_col: str = "doc_id",
                            quality_col: str = "quality",
                            max_iters: int = 20) -> DataFrame:
    """Quality-aware canonical selection over a near-dup pair graph:
    ``(doc_id, cluster_id, quality, kept)`` where exactly one member
    per connected component — the highest-``quality`` one, smallest
    ``doc_id`` on ties — has ``kept = 1``.

    ``dedup_clusters`` (and the ``clean_corpus_full`` pipeline) keep
    the component MINIMUM id, which is arbitrary; public pipelines
    that act on near-dup clusters keep the best member instead (most
    tokens, highest classifier score, best perplexity — any
    exact-arithmetic column the caller passes as ``quality``).
    Singletons are their own cluster and are always kept.

    100 TB shape: components come from :func:`dedup_clusters`
    (hash-to-min on the pair graph only); the argmax is WINDOW-FREE —
    one partial-agg ``max`` per cluster, a join back on
    ``cluster_id``, then a partial-agg ``min(doc_id)`` over the
    per-cluster maxima.  All shuffles key on ``cluster_id``; a
    pathological mega-cluster folds map-side in both aggregates and
    is never sorted.
    """
    cl = dedup_clusters(docs, pairs, id_col=id_col,
                        max_iters=max_iters)
    q = cl.join(
        quality.select(F.col(id_col).alias("doc_id"),
                       F.col(quality_col).alias("quality")),
        on="doc_id",
    )
    qmax = q.groupBy("cluster_id").agg(F.max("quality").alias("_qmax"))
    rep = (
        q.join(qmax, on="cluster_id")
        .where(F.col("quality") == F.col("_qmax"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_rep"))
    )
    return q.join(rep, on="cluster_id").select(
        "doc_id", "cluster_id", "quality",
        (F.col("doc_id") == F.col("_rep")).cast("int").alias("kept"),
    )


def cdc_bounds_udf(window: int = 16, divisor: int = 64,
                   max_chunk: int = 256):
    """Content-defined chunk boundaries, one batched Arrow pass per
    document: the LBFS sliding-window scheme (Muthitacharoen, Chen &
    Mazières, SOSP 2001) — a position cuts when the md5-prefix hash of
    the ``window`` chars ending there is ≡ 0 mod ``divisor``, so
    boundaries follow CONTENT and an inserted byte re-cuts only its
    chunk.  The rule is LOCAL (no min-size guard), so it mirrors
    exactly cross-engine; runs longer than ``max_chunk`` re-split at
    fixed strides.  Returns the ascending bounds [0, …, length] (chunk
    k spans chars bounds[k]+1 … bounds[k+1]); empty or NULL text
    yields [0].

    hashlib md5 over the UTF-8 window is bit-identical to Spark's
    ``md5(substr)``.  A pure-codegen HOF form pays an interpreted
    substring→md5→conv tree at EVERY character position — measured
    82 s for the d16 ledger at sf0.1 (~1.5 M positions) vs ~3 s here;
    the tests keep that form as the cross-engine reference and pin
    equality in tests/test_cdc.py.
    """
    @pandas_udf("array<int>")
    def _bounds(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if not s:
                out.append([0])
                continue
            ln = len(s)
            base = [0]
            for i in range(window, ln):
                hv = int(hashlib.md5(
                    s[i - window:i].encode("utf-8")).hexdigest()[:15], 16)
                if hv % divisor == 0:
                    base.append(i)
            base.append(ln)
            full: list[int] = []
            for a, b in zip(base, base[1:]):
                full.extend(range(a, b, max_chunk))
            full.append(ln)
            out.append(full)
        return pd.Series(out)

    return _bounds


def cdc_chunk_table(docs: DataFrame, window: int = 16, divisor: int = 64,
                    max_chunk: int = 256, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide CDC dedup ledger: (chunk_hash, freq, chunk_len) for
    every chunk content seen more than once — the shareable storage.

    100 TB shape: bounds are one Arrow pass per row
    (``cdc_bounds_udf`` — ~27× faster than a pure-codegen HOF form
    because the per-position window hash leaves the interpreted
    lambda; equality with that form pinned in tests), chunk slicing
    is a codegen projection,
    and the only exchange is the partial→final count on chunk_hash —
    the md5 key distributes uniformly so the agg never skews.  Chunk
    size is bounded by ``max_chunk``, so explode fan-out per doc is
    ≤ len/avg_chunk and shuffle rows carry a 32-char hash + length,
    never the text.
    """
    t = F.col(text_col)
    bounds = cdc_bounds_udf(window=window, divisor=divisor,
                            max_chunk=max_chunk)(t)
    chunks = bind_once(
        bounds,
        lambda b: F.when(
            F.size(b) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(b) - 1),
                lambda j: t.substr(
                    F.element_at(b, j) + 1,
                    F.element_at(b, j + 1) - F.element_at(b, j),
                ),
            ),
        ).otherwise(F.array_remove(F.array(F.lit("")), "")),
    )
    per_chunk = (
        docs.select(F.explode(chunks).alias("chunk"))
        .select(F.md5("chunk").alias("chunk_hash"),
                F.length("chunk").alias("chunk_len"))
    )
    return (
        per_chunk.groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("freq"),
             F.first("chunk_len").alias("chunk_len"))
        .where(F.col("freq") >= 2)
    )


def _bloom_pos(j: int, gram: Column, m_bits: int) -> Column:
    """Bloom probe position j for a gram: the portable md5-prefix hash
    of ``'j:' || gram`` mod ``m_bits`` — reproducible cross-engine."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{j}:"), gram)),
                           1, 15), 16, 10).cast("long") % m_bits
    )


def bloom_contamination(docs: DataFrame, benchmark: DataFrame,
                        n: int = 13, m_bits: int = 1 << 20, k: int = 3,
                        min_hits: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        bench_text_col: str | None = None) -> DataFrame:
    """Bloom-compressed decontamination — the 100 TB form of
    :func:`benchmark_contamination`.  The exact operator broadcasts
    the benchmark's DISTINCT 13-gram STRINGS (~100 B each); at a
    serious eval-suite union that broadcast is GBs per executor.
    This variant broadcasts only the SET BIT POSITIONS of a Bloom
    filter over those grams (k md5 probes into m_bits buckets —
    distinct BIGINTs, ~10× smaller, independent of gram length), and
    a doc gram counts as a hit when ALL k of its probe positions are
    set.

    Bloom direction is the safe one for decontamination: no false
    NEGATIVES ever (a contaminated doc is always flagged — superset
    of the exact operator, pinned in tests), false positives only
    over-drop at rate ~(fill_ratio)^k.  Size ``m_bits`` at ~10+
    bits/gram to keep that under 1e-2.

    Returns ``(id, gram_cnt, hit_cnt, contaminated)`` over every doc
    — drop-in for the exact operator's verdict columns.

    Plan shape: the position set builds with one distinct-aggregate
    over bench grams × k (tiny side, broadcast); doc grams explode
    ×k into (id, gram, position) probes that inner-join the broadcast
    — clean docs' probes produce k-at-most matches and the
    ``HAVING count = k`` gate runs as a partial-agg groupBy, so the
    shuffle carries only genuine near-hits.
    """
    t = F.col(text_col)
    bench_pos = (
        benchmark.select(
            F.explode(shingles_col(F.col(bench_text_col or text_col), n))
            .alias("_gram")
        )
        .select(F.explode(F.array(*[
            _bloom_pos(j, F.col("_gram"), m_bits) for j in range(k)
        ])).alias("_pos"))
        .distinct()
    )
    dg = docs.select(
        F.col(id_col),
        F.explode_outer(shingles_col(t, n)).alias("_gram"),
    )
    probes = (
        dg.filter(F.col("_gram").isNotNull())
        .select(
            id_col, "_gram",
            F.explode(F.array(*[
                _bloom_pos(j, F.col("_gram"), m_bits) for j in range(k)
            ])).alias("_pos"),
        )
    )
    gram_hits = (
        probes.join(F.broadcast(bench_pos), on="_pos", how="inner")
        .groupBy(id_col, "_gram")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") == k)
    )
    hit_cnt = gram_hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("hit_cnt"))
    base = dg.groupBy(id_col).agg(
        F.count("_gram").cast("long").alias("gram_cnt"))
    return (
        base.join(hit_cnt, on=id_col, how="left")
        .select(
            id_col, "gram_cnt",
            F.coalesce("hit_cnt", F.lit(0)).cast("long").alias("hit_cnt"),
        )
        .withColumn("contaminated", F.col("hit_cnt") >= min_hits)
    )
