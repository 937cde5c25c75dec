"""End-to-end corpus cleaning pipeline — the composition a web-scale
training-data pipeline runs over raw crawled documents:

    Gopher quality gate → language ID → exact dedup → fingerprint

Reference analog: the spiders' record pipeline composes the same way
(filter → classify → dedup → emit; see
/root/reference/hepcrawl/pipelines.py:61-117 for the emit side); here
the corpus-scale version is a single declarative plan.

Plan shape at 100 TB: ONE codegen scan pass computes every per-doc
signal from a once-bound token array (no Python, no repeated
tokenization); the Gopher verdict filters BEFORE the pipeline's only
shuffle — the content-hash dedup exchange — so only surviving
documents move; the survivor per content hash is chosen by a
row_number window partitioned by that hash (never a global window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lifetimes import persist
from .cumsum import two_phase_cumsum
from .textops import (
    bind_once,
    classifier_score_col,
    fingerprint_col,
    gopher_signals,
    tokens_col,
)


def pack_sequences(docs: DataFrame, capacity: int = 512,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   count_col: str | None = None, *,
                   caches: list[DataFrame] | None = None) -> DataFrame:
    """Context-window packing: lay the corpus out as one deterministic
    token stream (doc order = ``id_col`` ascending) cut into
    fixed-``capacity`` training sequences; each document gets the
    sequence id and intra-sequence offset where its first token lands
    (documents longer than the remaining room straddle into the next
    sequence — the standard "packed" LM-pretraining layout, no
    padding waste).

    The only global state is the exclusive running token count, which
    is computed with ``two_phase_cumsum`` — range buckets + prefix
    re-base, never a single-task window — so the layout is exact AND
    every stage spreads across the cluster.  One scan pass computes
    token counts (codegen fold over a once-bound token array);
    alternatively pass ``count_col`` to pack by an
    already-materialized count (e.g. ``clean_corpus`` output), in
    which case every input column is preserved alongside the layout.
    The cumsum's bucketed frame goes into ``caches``.
    """
    if count_col is None:
        counts = docs.select(
            F.col(id_col),
            F.size(tokens_col(F.col(text_col))).cast("long")
            .alias("token_cnt"),
        )
        count_col = "token_cnt"
        carried = [id_col, "token_cnt"]
    else:
        counts = docs
        carried = docs.columns
    c = two_phase_cumsum(
        counts, count_col, [F.col(id_col).asc()], out_col="_prev",
        caches=caches,
    )
    return c.select(
        *carried,
        F.expr(f"_prev div {capacity}").alias("seq_id"),
        F.pmod(F.col("_prev"), F.lit(capacity)).cast("long")
        .alias("seq_offset"),
    )


def curriculum_pack(scored: DataFrame, capacity: int = 512,
                    id_col: str = "doc_id",
                    count_col: str = "token_cnt",
                    score_col: str = "cls_score", *,
                    caches: list[DataFrame] | None = None) -> DataFrame:
    """Curriculum-ordered packing (Bengio et al. 2009 ordering, the
    data-ordering half of quality-curriculum pretraining recipes):
    identical exact layout arithmetic to :func:`pack_sequences`, but
    the deterministic token stream runs highest-quality-first —
    (score DESC, id ASC; the score arrives ROUNDED from
    ``classifier_score``'s 6-digit contract, so ordering and
    therefore the whole layout is bit-identical cross-engine).

    Input is an already-scored frame (e.g. ``textops.
    classifier_score`` output); every input column is preserved
    alongside the layout, like ``pack_sequences(count_col=…)``.

    100 TB shape: unchanged from p02 — the only global state is the
    exclusive running count via ``two_phase_cumsum`` (range buckets
    on the NEW sort key + prefix re-base; never a single-task
    window).  Ordering by score instead of id costs nothing: the
    range partitioner ranges over (score, id) exactly as it ranged
    over id.  The cumsum's bucketed frame goes into ``caches``.
    """
    c = two_phase_cumsum(
        scored, count_col,
        [F.col(score_col).desc(), F.col(id_col).asc()],
        out_col="_prev", caches=caches,
    )
    return c.select(
        *scored.columns,
        F.expr(f"_prev div {capacity}").alias("seq_id"),
        F.pmod(F.col("_prev"), F.lit(capacity)).cast("long")
        .alias("seq_offset"),
    )


def _shard_match(group_cols: tuple[str, ...], key) -> Column:
    """Equality conjunction for one mixing-table key (a str or tuple
    aligned with ``group_cols``)."""
    key_t = (key,) if isinstance(key, str) else tuple(key)
    if len(key_t) != len(group_cols):
        raise ValueError(
            f"mixing key {key!r} does not match group_cols {group_cols}"
        )
    cond = F.lit(True)
    for c, v in zip(group_cols, key_t):
        cond = cond & (F.col(c) == v)
    return cond


def mix_sample(docs: DataFrame,
               rates: dict,
               group_cols: tuple[str, ...] = ("source", "lang"),
               id_col: str = "doc_id",
               salt: str = "mix1",
               default_rate: float = 0.0) -> DataFrame:
    """Data mixing by per-shard rate table — the mixture step every
    public pipeline runs after cleaning (the Pile / Dolma mixing
    tables): each ``(source, lang)`` shard keeps its own deterministic
    fraction of documents.  ``rates`` maps shard keys (tuples aligned
    with ``group_cols``, or bare strings for a single group column) to
    keep-rates; shards not listed keep ``default_rate``.

    Same RNG-free substrate as ``textops.stratified_sample``: a row
    survives iff its 16-bit md5 bucket falls below ``rate * 0x10000``
    — one codegen filter, no shuffle, no RNG state, identical
    predicate in any engine with md5.  At 100 TB this is a pure
    map-side gate that composes under the scan's filter pushdown.
    """
    from .textops import sample_bucket_col

    bucket = sample_bucket_col(F.col(id_col), salt)
    thresh = F.lit(int(default_rate * 0x10000))
    for key, rate in sorted(rates.items()):
        thresh = F.when(
            _shard_match(group_cols, key), F.lit(int(rate * 0x10000))
        ).otherwise(thresh)
    return docs.filter(bucket < thresh)


def temperature_rates(counts: dict, tau: float,
                      target_frac: float = 1.0) -> dict:
    """Per-shard keep-rates for temperature-``tau`` mixing: the kept
    corpus's shard mass follows ``p_s ∝ n_s^(1/tau)`` (tau=1 keeps the
    natural distribution, tau→∞ tends uniform — the multilingual-LM
    reweighting rule), scaled so the expected kept fraction of the
    WHOLE corpus is ``target_frac``; rates clip at 1.0 (a shard cannot
    be upsampled by a filter — pick target_frac small enough that the
    tail shards stay below 1 if exact proportions matter).

    Driver-side exact float arithmetic over the (low-cardinality)
    shard count table — pair with ``corpus_stats`` output or any
    ``{shard_key: n_docs}`` dict, then feed into :func:`mix_sample`
    so the rates are plan literals on every engine.
    """
    if tau <= 0:
        raise ValueError("tau must be positive")
    w = {k: float(n) ** (1.0 / tau) for k, n in counts.items()}
    z = sum(w.values())
    total = float(sum(counts.values()))
    return {
        k: min(1.0, target_frac * total * (w[k] / z) / float(n))
        for k, n in counts.items()
    }


def mix_quota(docs: DataFrame,
              quotas: dict,
              group_cols: tuple[str, ...] = ("source", "lang"),
              id_col: str = "doc_id",
              salt: str = "mix1", *,
              caches: list[DataFrame] | None = None) -> DataFrame:
    """Exact integer-quota mixing: shard ``s`` keeps exactly
    ``min(quotas[s], |s|)`` documents — the budgeted variant of
    :func:`mix_sample` for when the mixture table is specified in
    absolute document counts (rate sampling only hits quotas in
    expectation).  Shards absent from ``quotas`` keep nothing.

    Which documents: the first ``quotas[s]`` of the shard in
    deterministic md5-hash order (id tie-break) — an unbiased,
    reproducible draw, not "lowest ids win".  Rank-within-shard is
    computed skew-safely: the global exclusive running count over
    ``(shard, hash)`` order via ``two_phase_cumsum`` (range buckets
    spread a hot shard across tasks), re-based per shard by a
    broadcast of per-shard minima — never a window partitioned by
    shard, which would funnel a 100 TB shard through one task.
    The cumsum's bucketed frame goes into ``caches``.
    """
    d = docs.withColumn(
        "_mk",
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(salt))),
    ).withColumn("_one", F.lit(1).cast("long"))
    order = ([F.col(c).asc() for c in group_cols]
             + [F.col("_mk").asc(), F.col(id_col).asc()])
    c = two_phase_cumsum(d, "_one", order, out_col="_prev", caches=caches)
    bases = c.groupBy(*group_cols).agg(F.min("_prev").alias("_base"))
    quota = F.lit(0).cast("long")
    for key, n in sorted(quotas.items()):
        quota = F.when(
            _shard_match(group_cols, key), F.lit(int(n)).cast("long")
        ).otherwise(quota)
    return (
        c.join(F.broadcast(bases), on=list(group_cols))
        .filter((F.col("_prev") - F.col("_base")) < quota)
        .drop("_mk", "_one", "_prev", "_base")
    )


def gated_docs(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               lang_threshold: float = 0.04,
               classifier_weights: list[float] | None = None,
               classifier_bias: float = 0.0,
               classifier_threshold: float = 0.5,
               badwords: list[str] | None = None,
               badwords_max_frac: float = 0.0,
               min_entropy: float | None = None,
               entropy_max_chars: int = 4096,
               entropy_min_chars: int = 64,
               fre_min: float | None = None,
               fre_max: float | None = None,
               line_rules: bool = False,
               max_bullet_frac: float | None = None,
               max_ellipsis_frac: float | None = None,
               **gopher_thresholds) -> DataFrame:
    """The stateless body shared by ``clean_corpus`` (batch) and
    ``streaming.pipeline.stream_clean_corpus``: one codegen scan pass
    computes every per-doc signal from a once-bound token array, and
    the Gopher verdict filters immediately — before any shuffle or
    stateful stage downstream.  Returns (id, _md5, guessed_lang,
    token_cnt, fingerprint) for gate survivors only.

    Pass ``classifier_weights`` to AND the model-based quality
    verdict (``textops.classifier_score``; logistic score ≥
    ``classifier_threshold``) into the gate — the score folds inside
    the SAME bound token array, so the extra gate column costs zero
    additional scans or tokenizations.

    Pass ``badwords`` to AND the C4 banned-word verdict
    (``textops.badwords_gate`` semantics: banned-token fraction ≤
    ``badwords_max_frac``, default any-hit-drops) into the gate —
    the count folds inside the same bound token array too.

    Pass ``min_entropy`` to AND the character-entropy screen
    (``textops.char_entropy`` semantics: drop iff the prefix sample
    holds at least ``entropy_min_chars`` code points AND its Shannon
    entropy falls below ``min_entropy`` bits/char) into the gate —
    the entropy expression reads the text column directly in the
    same projection, so the screen still costs zero extra scans.

    Pass ``fre_min``/``fre_max`` to AND a Flesch reading-ease band
    (``textops.readability`` semantics) into the gate — the syllable
    fold rides the same bound token array and the sentence count is
    one more regex on the text column, so the band too costs zero
    extra scans.

    Pass ``line_rules=True`` to AND the Gopher line-format verdict
    (``textops.gopher_line_rules`` semantics: bullet-start /
    ellipsis-end line fractions under the published 90%/30% caps, or
    ``max_bullet_frac``/``max_ellipsis_frac`` overrides) into the
    gate — the line folds read the text column directly in the same
    projection, like the entropy screen: zero extra scans.
    """
    cls = classifier_weights is not None
    bw = bool(badwords)
    ent = min_entropy is not None
    fre = fre_min is not None or fre_max is not None
    lr = bool(line_rules)

    def _sig(t):
        cols = [
            gopher_signals(t, **gopher_thresholds).alias("g"),
            fingerprint_col(t).alias("fp"),
        ]
        if cls:
            cols.append(
                classifier_score_col(
                    t, classifier_weights, classifier_bias
                ).alias("cls"),
            )
        if bw:
            cols.append(
                F.size(F.filter(t, lambda x: x.isin(*badwords)))
                .cast("long").alias("bad"),
            )
        if fre:
            from .textops import VOWEL_GROUP_RE

            cols.append(
                F.aggregate(
                    F.transform(t, lambda x: F.greatest(
                        F.lit(1).cast("long"),
                        F.regexp_count(x, F.lit(VOWEL_GROUP_RE))
                        .cast("long"))),
                    F.lit(0).cast("long"), lambda a, v: a + v,
                ).alias("syl"),
            )
        return F.struct(*cols)

    sig = bind_once(tokens_col(F.col(text_col)), _sig)
    gate = F.col("_s.g.passes") == 1
    if cls:
        gate = gate & (F.col("_s.cls") >= F.lit(classifier_threshold))
    if bw:
        n = F.col("_s.g.token_cnt")
        bad_frac = F.when(
            n > 0,
            F.round(F.col("_s.bad").cast("double") / n.cast("double"),
                    9),
        ).otherwise(F.lit(0.0))
        gate = gate & (bad_frac <= F.lit(badwords_max_frac))
    if ent:
        from .textops import entropy_struct

        low = (
            (F.col("_e.char_cnt") >= F.lit(int(entropy_min_chars)))
            & (F.col("_e.entropy") < F.lit(float(min_entropy)))
        )
        # NULL entropy (zero sampled chars) never satisfies `low` on
        # either engine: FALSE AND NULL = FALSE
        gate = gate & ~low
    if lr:
        from .textops import (GOPHER_MAX_BULLET_FRAC,
                              GOPHER_MAX_ELLIPSIS_FRAC)

        bf_cap = (GOPHER_MAX_BULLET_FRAC if max_bullet_frac is None
                  else float(max_bullet_frac))
        ef_cap = (GOPHER_MAX_ELLIPSIS_FRAC if max_ellipsis_frac is None
                  else float(max_ellipsis_frac))
        # NULL fractions (no non-empty lines) pass vacuously — same
        # coalesce the standalone t45 verdict uses
        gate = gate & (
            F.coalesce(F.col("_l.bullet_frac") <= F.lit(bf_cap),
                       F.lit(True))
            & F.coalesce(F.col("_l.ellipsis_frac") <= F.lit(ef_cap),
                         F.lit(True))
        )
    if fre:
        from .textops import (FRE_BASE, FRE_SPW, FRE_WPS, SENTENCE_RE)

        w_d = F.col("_s.g.token_cnt").cast("double")
        s_d = F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.col(text_col), F.lit(SENTENCE_RE))
            .cast("long"),
        ).cast("double")
        fre_val = (F.lit(FRE_BASE) - F.lit(FRE_WPS) * (w_d / s_d)
                   - F.lit(FRE_SPW)
                   * (F.col("_s.syl").cast("double") / w_d))
        # token-free rows yield NULL fre -> gate NULL -> dropped, the
        # same three-valued outcome the SQL mirror's WHERE produces
        if fre_min is not None:
            gate = gate & (fre_val >= F.lit(float(fre_min)))
        if fre_max is not None:
            gate = gate & (fre_val <= F.lit(float(fre_max)))
    ratio = (F.col("_s.g.stopword_cnt").cast("double")
             / F.col("_s.g.token_cnt").cast("double"))
    cols = [
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_md5"),
        sig.alias("_s"),
    ]
    if ent:
        cols.append(
            entropy_struct(F.col(text_col), entropy_max_chars)
            .alias("_e")
        )
    if lr:
        from .textops import line_format_struct

        cols.append(line_format_struct(F.col(text_col)).alias("_l"))
    return (
        docs.select(*cols)
        .filter(gate)
        .select(
            id_col,
            "_md5",
            F.when(ratio >= F.lit(lang_threshold), F.lit("en"))
             .otherwise(F.lit("und")).alias("guessed_lang"),
            F.col("_s.g.token_cnt").alias("token_cnt"),
            F.col("_s.fp").alias("fingerprint"),
        )
    )


def clean_corpus(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 lang_threshold: float = 0.04,
                 min_entropy: float | None = None,
                 fre_min: float | None = None,
                 fre_max: float | None = None,
                 line_rules: bool = False,
                 **gopher_thresholds) -> DataFrame:
    """Documents that pass the Gopher rules, exact-deduped by content
    hash (smallest id survives), tagged with language guess, token
    count and rolling-hash fingerprint.

    ``lang_threshold`` is the ``lang_id`` stopword-ratio cut; the
    ratio is re-derived from the already-computed signal struct
    (stopword_cnt / token_cnt) so the token array is folded exactly
    once per document.
    """
    base = gated_docs(docs, text_col=text_col, id_col=id_col,
                      lang_threshold=lang_threshold,
                      min_entropy=min_entropy,
                      fre_min=fre_min, fre_max=fre_max,
                      line_rules=line_rules,
                      **gopher_thresholds)
    w = Window.partitionBy("_md5").orderBy(F.col(id_col).asc())
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "guessed_lang", "token_cnt", "fingerprint")
    )


def clean_corpus_full(docs: DataFrame, capacity: int = 512,
                      text_col: str = "text", id_col: str = "doc_id",
                      lang_threshold: float = 0.04,
                      jaccard_threshold: float = 0.8,
                      benchmark: DataFrame | None = None,
                      contamination_ngram: int = 13,
                      contamination_min_hits: int = 1,
                      span_rewrite_w: int | None = None,
                      span_min_count: int = 2,
                      span_max_df: int | None = None,
                      keep_best: bool = False, *,
                      caches: list[DataFrame] | None = None,
                      **gopher_thresholds) -> DataFrame:
    """The full production cleaning pipeline over a raw crawled
    corpus — every stage the public web-scale recipes chain, in one
    declarative composition:

        Gopher gate → exact content dedup → [benchmark
        decontamination] → MinHash-LSH near-dup clustering (keep
        each cluster's smallest id) → packed training-sequence layout

    Scale shape: the gate + exact dedup are ``clean_corpus`` (one
    scan pass, one shuffle); the near-dup stage shingles ONLY the
    survivors (a pruned-column semi join back to the text, never a
    re-gate), pairs via the banded MinHash index, components via
    hash-to-min label propagation on the (small) pair graph; the
    final layout is the exact two-phase cumsum.  No stage holds
    corpus-sized state on one task.

    Pass ``benchmark`` (a frame with ``text_col``) to drop documents
    sharing any ``contamination_ngram``-gram with the held-out eval
    set, BETWEEN exact dedup and near-dup clustering: the broadcast
    inner join of ``dedup.contaminated_ids`` touches only gate+dedup
    survivors, and removing contaminated docs before clustering means
    a cluster minimum that is itself contaminated cannot suppress its
    clean near-duplicates.

    Pass ``span_rewrite_w`` to run duplicate-span REMOVAL
    (``dedup.span_rewrite`` — the Lee et al. 2022 ExactSubstr rewrite)
    over the FINAL kept set, after near-dup cluster removal: span
    frequencies are counted over exactly the texts being rewritten
    (removing whole near-duplicate documents first means their spans
    no longer inflate the counts), ``token_cnt`` becomes the
    POST-rewrite token count, a ``removed_cnt`` column is added, and
    the packed layout is computed over the rewritten counts — the
    sequence stream a trainer would actually consume.  ``fingerprint``
    stays the pre-rewrite content hash (lineage back to the stored
    document).  ``span_min_count`` / ``span_max_df`` pass through to
    the rewrite (the d08-style stop-span cap).

    Every frame the result reads from a cache (the cleaned frame, the
    MinHash base, the cluster labels' checkpoint, the layout's cumsum
    buckets) goes into ``caches``; release them after materializing.
    """
    from .dedup import (
        contaminated_ids,
        dedup_clusters,
        minhash_lsh_pairs,
        span_rewrite,
    )

    # persist: the cleaned frame (tiny next to the corpus — ids +
    # scalars) feeds THREE consumers (near-dup semi join, cluster
    # singletons, final kept join); without the cache each reference
    # re-runs the whole gate scan
    cleaned = persist(clean_corpus(docs, text_col=text_col, id_col=id_col,
                                   lang_threshold=lang_threshold,
                                   **gopher_thresholds), caches)
    if benchmark is not None:
        surv_text = docs.select(id_col, text_col).join(
            cleaned.select(id_col), on=id_col, how="leftsemi"
        )
        dirty = contaminated_ids(
            surv_text, benchmark, n=contamination_ngram,
            min_hits=contamination_min_hits,
            text_col=text_col, id_col=id_col,
        )
        cleaned = cleaned.join(dirty, on=id_col, how="left_anti")
    surv_docs = docs.select(id_col, text_col).join(
        cleaned.select(id_col), on=id_col, how="leftsemi"
    )
    pairs = minhash_lsh_pairs(surv_docs, n=3,
                              threshold=jaccard_threshold,
                              text_col=text_col, id_col=id_col,
                              caches=caches)
    clusters = dedup_clusters(surv_docs, pairs, id_col=id_col,
                              caches=caches)
    if keep_best:
        # the d12 rule composed into the flagship: keep each
        # component's highest-token-count member (min id on ties)
        # instead of the arbitrary smallest id — same window-free
        # two-agg argmax as dedup.cluster_representatives, quality =
        # the gate's already-computed token_cnt (no extra scan)
        q = clusters.join(
            cleaned.select(id_col, F.col("token_cnt").alias("_q")),
            on=id_col,
        )
        qmax = q.groupBy("cluster_id").agg(F.max("_q").alias("_qmax"))
        keep = (
            q.join(qmax, on="cluster_id")
            .where(F.col("_q") == F.col("_qmax"))
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
    else:
        keep = clusters.filter(
            F.col("cluster_id") == F.col(id_col)
        ).select(id_col)
    kept = cleaned.join(keep, on=id_col, how="leftsemi")
    if span_rewrite_w is not None:
        kept_text = docs.select(id_col, text_col).join(
            kept.select(id_col), on=id_col, how="leftsemi"
        )
        rw = span_rewrite(kept_text, w=span_rewrite_w,
                          min_count=span_min_count,
                          max_span_df=span_max_df,
                          text_col=text_col, id_col=id_col)
        kept = kept.drop("token_cnt").join(
            rw.select(
                id_col,
                (F.col("token_cnt") - F.col("removed_cnt"))
                .alias("token_cnt"),
                "removed_cnt",
            ),
            on=id_col,
        )
    return pack_sequences(kept, capacity=capacity, id_col=id_col,
                          count_col="token_cnt", caches=caches)


# ---------------------------------------------------------------------------
# Host-level curation (RefinedWeb-style domain filtering)
# ---------------------------------------------------------------------------


def curate_hosts(docs: DataFrame, host_col: str = "host",
                 bad_col: str = "bad",
                 min_docs: int = 5,
                 max_bad_pct: int = 50) -> DataFrame:
    """Per-host curation verdict from document-level quality flags:
    ``host, docs, bad_docs, blocked``.

    The host-level pass every public webtext pipeline runs after the
    per-document gates (RefinedWeb/C4 drop whole domains whose
    sampled pages are mostly junk): a host is ``blocked`` when it has
    at least ``min_docs`` judged documents AND its bad share exceeds
    ``max_bad_pct`` percent.  Hosts below ``min_docs`` are unjudged
    — never blocked on thin evidence.  The share compare is integer
    cross-multiplication (``bad*100 > pct*docs``), so the verdict is
    bit-identical across engines.

    One hash aggregate with map-side partial folding: a host with
    10^8 pages collapses to one partial per task before the exchange,
    and the exchange moves host cardinality, not page cardinality.
    ``bad_col`` is any boolean the caller derived (Gopher verdict,
    banned-words hit, classifier gate) — curation composes with every
    existing per-doc signal without re-scanning.
    """
    hosts = docs.groupBy(host_col).agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum(F.col(bad_col).cast("long")).cast("long").alias("bad_docs"),
    )
    blocked = (
        (F.col("docs") >= F.lit(int(min_docs)))
        & (F.col("bad_docs") * 100 > F.lit(int(max_bad_pct))
           * F.col("docs"))
    )
    return hosts.withColumn("blocked", blocked.cast("int"))


def host_filter(docs: DataFrame, host_verdicts: DataFrame,
                host_col: str = "host") -> DataFrame:
    """Drop documents on blocked hosts (broadcast anti-join).

    Host cardinality is millions where document cardinality is
    trillions, so the verdict side always broadcasts — the filter
    costs one scan-side hash probe, no shuffle of the corpus.
    """
    blocked = host_verdicts.where(F.col("blocked") == 1).select(host_col)
    return docs.join(F.broadcast(blocked), on=host_col, how="left_anti")


# ---------------------------------------------------------------------------
# Deterministic dataset splits (train / validation / test)
# ---------------------------------------------------------------------------

def split_bounds(fractions: dict) -> list:
    """Integer 16-bit bucket boundaries for :func:`assign_splits` —
    cumulative ``round(frac * 0x10000)`` per split in insertion
    order, last split absorbing the rounding remainder.  Exposed so
    the SQL mirror renders its CASE from the SAME integers the Spark
    plan compiles in (the shared-constant drift guard every mixing
    operator here uses)."""
    names = list(fractions)
    if len(names) < 2:
        raise ValueError("need at least two splits")
    out, acc = [], 0.0
    for name in names[:-1]:
        acc += float(fractions[name])
        out.append((name, int(round(acc * 0x10000))))
    return out


def assign_splits(docs: DataFrame,
                  fractions: dict,
                  id_col: str = "doc_id",
                  salt: str = "split") -> DataFrame:
    """Deterministic train/validation/test assignment — the release
    step every public dataset ships with: each document lands in
    exactly one named split, in expectation at its fraction, stable
    across runs, engines, cluster sizes AND corpus growth (a doc's
    split never changes when other docs are added — the property a
    random shuffle split does not have, and the reason eval
    contamination survives re-releases that re-shuffle).

    Same RNG-free md5-bucket substrate as ``stratified_sample`` /
    ``mix_sample``: split = first boundary the doc's 16-bit bucket
    falls under, boundaries from :func:`split_bounds`.  One codegen
    projection — no shuffle, no RNG state; at 100 TB the assignment
    is free metadata on the scan, and any split can be FILTERED with
    full pushdown (partition the written output by ``split`` and
    reads prune to one directory).
    """
    bucket = None
    from .textops import sample_bucket_col

    bucket = sample_bucket_col(F.col(id_col), salt)
    names = list(fractions)
    expr = None
    for name, bound in split_bounds(fractions):
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(names[-1]))
    return docs.select(
        "*", bucket.alias("split_bucket"), expr.alias("split")
    )
