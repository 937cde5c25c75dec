"""The crawl round loop (F6) — the engine's top-level query.

Each round is one committed unit of work (reference analog: the
Scrapy reactor draining its scheduler, resumable via JOBDIR):

    queue → robots gate → URL-seen gate → politeness schedule
          → "fetch" (join against the pages corpus)
          → Arrow extraction UDF → records sink
          → frontier expansion (new_urls → next round's queue)
          → lineage/metrics → atomic checkpoint commit

All state (queue, seen set, host offsets, records, lineage) lives in
the RoundStore, so a killed job resumes from the last committed round
bit-identically (test: tests/test_rounds.py).

The queue-entry gates (``_entry_gates``) and everything after the
fetch join (``_round_body``) are shared with the streaming crawl
(``streaming.pipeline.stream_crawl_round``); the engines differ only
in seen-gate placement, the ``schedule`` call and where state lands.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..extract import extract_records
from ..schema import POLITENESS_SCHEMA, ROBOTS_SCHEMA
from .checkpoint import RoundStore
from .fingerprint import content_seen_flag, with_url_identity
from .politeness import schedule
from .robots import effective_politeness, robots_filter
from .seen import CANDIDATE_SCHEMA, filter_unseen
from .urlfilter import url_filter

# spider name → pages format tag (the reference's spider choice is the
# format route; SURVEY.md §2.1)
SOURCE_FORMATS = {
    "arXiv": "arxiv-oai",
    "WSP": "jats",
    "PoS": "pex-dc",
    "BASE": "oai-base-dc",
    "DNB": "marc21-slim",
    "Hindawi": "marc21",
    "APS": "json-aps",
    "iop": "nlm",
    "EDP": "edp-jats",
    "Elsevier": "elsevier-consyn",
    "brown": "json-brown",
    "phil": "json-phil",
    "alpha": "html-alpha",
    "t2k": "html-t2k",
    "magic": "html-magic",
    "phenix": "html-phenix",
    "MIT": "html-mit",
    "infn": "html-infn",
}

_CAND_COLS = CANDIDATE_SCHEMA.fieldNames()


@dataclass
class CrawlConfig:
    seen_mode: str = "off"          # reference parity default (settings.py:32-33)
    num_shards: int = 64
    horizon: Optional[float] = None  # seconds per round; None = drain queue
    max_rounds: int = 32
    max_depth: int = 16
    seq_block: int = 1 << 40        # per-round seq namespace spacing
    job_id: str = ""                # manifest payload id (≙ SCRAPY_JOB)
    # child-URL format routing: url-regex → format tag, overriding the
    # inherited parent format — the frontier analog of the reference's
    # per-callback dispatch (e.g. Elsevier atom feed → .zip packages →
    # member XMLs → sciencedirect splash, elsevier_spider.py:142-181)
    child_format_routes: Dict[str, str] = field(default_factory=dict)
    # saved bucketed pages corpus (sources.bucketed.write_bucketed):
    # when set, each round's scheduled frontier is written co-bucketed
    # and the fetch join plans with NO Exchange on either side — the
    # 100 TB shape (the corpus never re-shuffles per round)
    pages_table: Optional[str] = None
    # record the executed fetch-join plan per round in the summary
    # (tests assert the zero-Exchange shape on the REAL crawl plans)
    collect_fetch_plans: bool = False
    # frontier URL blocklist (f07, frontier/urlfilter.py): scheme
    # allowlist + registrable-domain-suffix + path-extension
    # blocklists applied at QUEUE ENTRY each round, so both seeds and
    # expanded children pass the same gate (the reference analog:
    # per-spider allowed_domains / URL-pattern guards).  All three
    # predicates are plan literals — one codegen pass over the queue,
    # and the gate is entirely absent from the plan when both
    # blocklists are empty.  Dropped count lands in
    # ``totals["url_filtered"]``.
    blocked_domains: Tuple[str, ...] = ()
    blocked_extensions: Tuple[str, ...] = ()
    allowed_schemes: Tuple[str, ...] = ("http", "https")
    # Mercator content-seen test (fingerprint.content_seen_flag): when
    # on, fetched pages whose md5 checksum an earlier fetch already
    # carried — this round (earlier seq wins) or any previous round
    # (carried checksum state, resumed from the store's "content"
    # table) — are NOT extracted and expand NO children; the fetch
    # itself already happened, exactly as in Mercator.  Suppressed
    # count lands in ``totals["content_dup"]``.
    content_seen: bool = False


def make_seeds(spark: SparkSession, seeds: List[Tuple[str, str, int]]) -> DataFrame:
    """seeds: [(url, source, priority)] in start_requests yield order."""
    rows = [
        (url, None, None, None, int(priority), 0, i, source,
         SOURCE_FORMATS.get(source, source))
        for i, (url, source, priority) in enumerate(seeds)
    ]
    df = spark.createDataFrame(rows, CANDIDATE_SCHEMA)
    return with_url_identity(df.drop("canon_url", "url_host", "fingerprint"))


def _local_ckpt(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` + ownership marker, so the round loop can
    later free the blocks with :func:`_release_local_checkpoint`
    (caller-supplied frames never carry the marker and are never
    touched)."""
    out = df.localCheckpoint()
    out._owned_ckpt = True
    return out


def _release_local_checkpoint(df: Optional[DataFrame]) -> None:
    """Free the executor blocks behind a frame the loop itself
    ``localCheckpoint()``ed.  ``DataFrame.unpersist()`` cannot reach
    them — checkpoint blocks belong to the internal RDD, not the
    cache manager — so without this a long store-less crawl
    accumulates one per-host-tiny block set per round until the
    driver's periodic ContextCleaner GC notices the JVM-side RDD is
    unreachable (spark.cleaner.periodicGC.interval, default 30 min).
    Called only AFTER the round's actions have materialized every
    frame that could otherwise recompute through the released blocks.
    Best-effort: a reflection failure falls back to that GC path.
    """
    if df is None or not getattr(df, "_owned_ckpt", False):
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass


def _merge_offsets(old: Optional[DataFrame], new: DataFrame) -> DataFrame:
    if old is None:
        return new
    return (
        old.alias("o")
        .join(new.alias("n"), on="url_host", how="full_outer")
        .select(
            "url_host",
            F.coalesce("n.next_fetch_ts", "o.next_fetch_ts").alias("next_fetch_ts"),
            F.coalesce("n.crawl_delay", "o.crawl_delay").alias("crawl_delay"),
        )
    )


def _expand_children(records: DataFrame, scheduled: DataFrame,
                     seq_base: int, max_depth: int,
                     format_routes: Optional[Dict[str, str]] = None) -> DataFrame:
    """new_urls of this round's records → next round's candidates.

    Child enqueue order (the LIFO seq) = parent fetch order, then
    position within the page — the serial-contract equivalent of Scrapy
    enqueueing requests as each response is parsed.
    """
    # parent ORDER keys on the effective (authority-boosted) priority
    # when the schedule carries one; the INHERITED priority is always
    # the base, so a host boost never compounds across depths
    _ord_prio = ("eff_priority" if "eff_priority" in scheduled.columns
                 else "priority")
    parents = scheduled.select(
        F.col("url").alias("parent_url"),
        F.col("fetch_ts").alias("_pts"),
        F.col(_ord_prio).alias("_pord"),
        F.col("priority").alias("_pprio"),
        F.col("seq").alias("_pseq"),
        F.col("depth").alias("_pdepth"),
        F.col("source").alias("_psource"),
        F.col("format").alias("_pformat"),
    )
    kids = (
        records.filter(F.size("new_urls") > 0)
        .select(
            F.col("url").alias("parent_url"),
            F.posexplode("new_urls").alias("_pos", "child_url"),
        )
        .join(parents, on="parent_url")
        .filter(F.col("_pdepth") < max_depth)
    )
    # spread the expansion: explode inherits the parent frame's
    # partitioning, so one zip → 10^5 members would otherwise stay in
    # the partition its parent row occupied
    kids = kids.repartition(
        records.sparkSession.sparkContext.defaultParallelism
    )
    # Deterministic global enqueue order WITHOUT a single-task global
    # sort over the children (a package-expansion round — one zip →
    # 10^5 members — would funnel through one task).  Two-phase exact
    # rank, same idea as politeness.per_host_rank, with groups keyed
    # by (parent, _pos): one parent page can emit SEVERAL records that
    # each carry new_urls (an elsevier-zip page → many member records
    # with sciencedirect hops), and posexplode restarts _pos per
    # record row — so _pos alone is NOT unique within a parent.  The
    # local rank orders the (parent, _pos) group by child_url
    # (deterministic total order; the group holds at most
    # records-per-page rows), and the global base is the cumulative
    # group count over (parent order, _pos ASC).  Only the per-group
    # COUNT table is cumulated — never the children payload — and the
    # cumulation itself is two-phase (range buckets), so no single
    # task ever sees the whole table.
    _pkeys = ["parent_url", "_pts", "_pord", "_pprio", "_pseq"]
    _gkeys = _pkeys + ["_pos"]
    # global child order = parent fetch order (fetch_ts ASC, effective
    # priority DESC, seq DESC), then record position
    _order = [
        F.col("_pts").asc(), F.col("_pord").desc(),
        F.col("_pseq").desc(), F.col("_pos").asc(),
    ]
    counts = kids.groupBy(*_gkeys).agg(F.count(F.lit(1)).alias("_cnt"))
    # Two-phase skew-safe cumulation of the count table (the
    # per_host_rank recipe; at a 10^7-parent round this table is
    # O(parents × records-per-page) — it must never funnel through one
    # task).  The leading sort key is the DOUBLE fetch_ts, so no
    # closed-form seq-range bucket exists; the contiguous-range buckets
    # come from a range exchange over the full sort key instead:
    # range-partition → cumulate within each range bucket → re-base
    # with the prefix of per-bucket totals.  The prefix over the
    # ≤ n_buckets totals is a triangular join, not a window — NO
    # unpartitioned window remains anywhere in the expansion plan.
    n_buckets = records.sparkSession.sparkContext.defaultParallelism
    # PERSIST the bucketed count table: the bucket id is the range
    # partition index, and the frame is consumed by three branches
    # (cumsum, totals, totals again for the prefix join).  Without the
    # cache, per-branch column pruning makes the three range-exchange
    # subtrees non-identical, exchange reuse does NOT fire, and each
    # branch samples its own boundaries + evaluates its own
    # spark_partition_id — silently inconsistent bucket ids (observed:
    # permuted child seq).  With the cache there is exactly one
    # physical plan, one boundary sample, one partition-id evaluation;
    # every branch reads the same InMemoryRelation (and AQE does not
    # re-plan inside cached plans).  run_crawl releases the cache once
    # the next round's queue is materialized; direct callers can
    # unpersist via the ``_expand_cache`` attribute on the result.
    counts = (
        counts.repartitionByRange(n_buckets, *_order)
        .withColumn("_bkt", F.spark_partition_id())
        .persist()
    )
    _cached_counts = counts
    w_in_bucket = (
        Window.partitionBy("_bkt").orderBy(*_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counts = counts.withColumn(
        "_lcum", F.coalesce(F.sum("_cnt").over(w_in_bucket), F.lit(0))
    )
    # bucket ids are range-ordered (every sort key in bucket k precedes
    # every key in bucket k+1), so base(bucket k) = Σ totals of buckets
    # < k — computed with a triangular join over the ≤ n_buckets
    # totals, never an unpartitioned window.
    totals = counts.groupBy("_bkt").agg(F.sum("_cnt").alias("_btot"))
    bucket_bases = (
        totals.alias("ta")
        .join(totals.alias("tb"), F.col("tb._bkt") < F.col("ta._bkt"),
              "left")
        .groupBy(F.col("ta._bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("tb._btot"), F.lit(0)).alias("_bbase"))
    )
    bases = (
        counts.join(F.broadcast(bucket_bases), on="_bkt")
        .withColumn("_base", F.col("_bbase") + F.col("_lcum"))
        .select(*_gkeys, "_base")
    )
    w_local = Window.partitionBy(*_gkeys).orderBy(F.col("child_url").asc())
    # merge hint, NOT broadcast: bases is unbounded at a 10^7-page
    # round (forcing a broadcast would OOM the executors), and letting
    # AQE pick can broadcast the CHILDREN payload — the larger side —
    # when both look small.  The sort-merge join is free on the kids
    # side: the rank window just partitioned AND sorted it by exactly
    # these keys, so only the (far smaller) bases side shuffles.
    kids = (
        kids.withColumn("_lr", F.row_number().over(w_local))
        .join(bases.hint("merge"), on=_gkeys)
        .withColumn("_order", F.col("_base") + F.col("_lr"))
    )
    child_format = F.col("_pformat")
    for pattern, fmt in (format_routes or {}).items():
        child_format = F.when(
            F.col("child_url").rlike(pattern), F.lit(fmt)
        ).otherwise(child_format)
    kids = kids.withColumn("_pformat", child_format)
    out = kids.select(
        F.col("child_url").alias("url"),
        F.lit(None).cast("string").alias("canon_url"),
        F.lit(None).cast("string").alias("url_host"),
        F.lit(None).cast("long").alias("fingerprint"),
        F.col("_pprio").alias("priority"),
        (F.col("_pdepth") + 1).alias("depth"),
        (F.lit(seq_base) + F.col("_order")).alias("seq"),
        F.col("_psource").alias("source"),
        F.col("_pformat").alias("format"),
    )
    out = with_url_identity(out.drop("canon_url", "url_host", "fingerprint"))
    # expose the bucketed count cache so the caller can release it once
    # the children are durably materialized (unpersisting EARLIER would
    # re-trigger the inconsistent per-branch recompute described above)
    out._expand_cache = _cached_counts
    return out


def _entry_gates(queue: DataFrame, robots: Optional[DataFrame],
                 config: CrawlConfig
                 ) -> Tuple[DataFrame, DataFrame, Optional[DataFrame]]:
    """Queue entry: URL blocklist, then robots.  Returns (allowed,
    blocked, url_filtered); ``url_filtered`` is None when both
    blocklists are empty, and the URL gate is then absent from the plan.
    """
    url_filtered = None
    if config.blocked_domains or config.blocked_extensions:
        verdict = url_filter(
            queue,
            blocked_domains=list(config.blocked_domains),
            blocked_extensions=list(config.blocked_extensions),
            allowed_schemes=config.allowed_schemes,
        )
        url_filtered = verdict.filter(~F.col("keep")).select("url")
        queue = verdict.filter(F.col("keep")).drop(
            "scheme_ok", "domain_blocked", "ext_blocked", "keep"
        )
    allowed, blocked = robots_filter(queue, robots)
    return allowed, blocked, url_filtered


class RoundOutputs(NamedTuple):
    fetched: DataFrame     # persisted; content_dup/content_fp when content_seen
    extracted: DataFrame   # persisted
    records: DataFrame
    errors: DataFrame      # (url, error): extraction errors + fetch misses
    lineage: DataFrame
    children: DataFrame    # next round's candidates, ``_expand_cache`` attached
    content_state: Optional[DataFrame]  # next checksum state (lazy)


def _round_body(fetched: DataFrame, scheduled: DataFrame,
                content_state: Optional[DataFrame], round_no: int,
                config: CrawlConfig) -> RoundOutputs:
    """Everything after the fetch join: content-seen flag against the
    carried checksum state, extraction, errors, lineage and child
    expansion.  ``fetched`` is the raw ``scheduled`` ⋈ pages join;
    ``run_crawl`` and the streaming ``foreachBatch`` both call this.
    """
    if config.content_seen:
        # content-seen (Mercator §4.1): within-round first owner
        # by seq, then prior rounds' checksum state — NOT a
        # broadcast (one fp per distinct document at corpus
        # scale); both sides hash-partition on the near-unique
        # checksum key
        fetched = content_seen_flag(fetched, order_col=[
            F.col("fetch_ts"),
            F.col("eff_priority").desc(),
            F.col("seq").desc(),
        ])
        if content_state is not None:
            fetched = fetched.join(
                content_state.select("content_fp").withColumn(
                    "_seen_before", F.lit(True)
                ),
                on="content_fp", how="left",
            ).withColumn(
                "content_dup",
                F.col("content_dup")
                | F.coalesce("_seen_before", F.lit(False)),
            ).drop("_seen_before")
    fetched = fetched.persist()
    miss_errors = fetched.filter(F.col("html").isNull()).select(
        "url", F.lit("FetchMiss: url not in corpus").alias("error")
    )
    extract_src = fetched.filter(F.col("html").isNotNull())
    if config.content_seen:
        # the expensive half Mercator's test exists to skip:
        # content-dup pages are neither extracted nor expanded
        extract_src = extract_src.filter(~F.col("content_dup"))
    extracted = extract_records(
        extract_src.select("url", "html", "format")
    ).persist()

    records = extracted.filter(F.col("error").isNull())
    errors = extracted.filter(F.col("error").isNotNull()).select(
        "url", "error"
    ).unionByName(miss_errors)

    # per-partition lineage + metrics (F8)
    lineage = (
        extracted.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("emitted_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
            F.collect_list("error").alias("errors"),
        )
        .select(
            F.lit(round_no).alias("round"),
            F.col("_pid").alias("partition_id"),
            "input_rows", "emitted_rows", "error_rows", "errors",
        )
    )

    children = _expand_children(
        records, scheduled,
        seq_base=(round_no + 1) * config.seq_block,
        max_depth=config.max_depth,
        format_routes=config.child_format_routes,
    )
    if config.content_seen:
        # everything fetched this round is now "seen" content
        round_fps = fetched.filter(
            F.col("html").isNotNull()
        ).select("content_fp").distinct()
        content_state = (
            round_fps if content_state is None
            else content_state.unionByName(round_fps).distinct()
        )
    return RoundOutputs(fetched, extracted, records, errors, lineage,
                        children, content_state)


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    politeness: Optional[DataFrame] = None,
    robots: Optional[DataFrame] = None,
    checkpoint_path: Optional[str] = None,
    config: CrawlConfig = CrawlConfig(),
    store: Optional["RoundStore"] = None,
    host_priorities: Optional[DataFrame] = None,
) -> Dict:
    """Run the crawl to completion (or max_rounds); returns a summary.

    ``host_priorities`` (url_host, host_priority) is the optional
    host-authority dimension (e.g. ``linkgraph.rank_priorities`` over a
    previous crawl's outlink graph), applied per round inside
    ``schedule`` — see its docstring for the no-compounding contract.

    ``pages`` is the Common-Crawl-style corpus (the sandbox "fetch" is a
    url equi-join — at cluster scale both sides are bucketed by
    url_host, making it shuffle-free; SURVEY.md §2.6 J5).

    ``store`` may be any ``BaseRoundStore`` implementation (e.g.
    ``SnapshotLogStore`` — the Iceberg-shaped metadata log); when None,
    ``checkpoint_path`` selects the default filesystem ``RoundStore``.
    """
    if store is None and checkpoint_path:
        store = RoundStore(spark, checkpoint_path)
    politeness = effective_politeness(politeness, robots)

    frontier_tables: List[str] = []
    pages_buckets: Optional[int] = None
    if config.pages_table:
        from ..sources.bucketed import table_num_buckets

        # bucketed mode: the corpus is a saved bucketed table and the
        # per-round frontier is written with the SAME bucket spec, so
        # the fetch join never shuffles the (100 TB) pages side — or
        # the frontier side (``pages`` argument, if any, is ignored)
        pages = spark.table(config.pages_table)
        pages_buckets = table_num_buckets(spark, config.pages_table)
        if pages_buckets is None:
            raise ValueError(
                f"pages_table {config.pages_table!r} is not bucketed; "
                "write it with sources.bucketed.write_bucketed"
            )

    round_no = 0
    queue: Optional[DataFrame] = seeds
    seen_state: Optional[DataFrame] = None
    offsets: Optional[DataFrame] = None
    content_state: Optional[DataFrame] = None

    if store is not None:
        last = store.last_committed_round()
        if last is not None:
            queue = store.read_table(last, "queue")
            seen_state = store.read_table(last, "seen")
            offsets = store.read_table(last, "offsets")
            if config.content_seen:
                content_state = store.read_table(last, "content")
            round_no = last + 1

    totals = {"records": 0, "errors": 0, "scheduled": 0, "blocked": 0,
              "url_filtered": 0, "content_dup": 0}
    pending_expand_cache: Optional[DataFrame] = None

    while queue is not None and round_no < config.max_rounds:
        queue = queue.persist()
        # bookkeeping job 1 of 2: queue size + seq bounds in one action
        # (the bounds feed the skew-safe rank's bucketing, saving its
        # own driver round-trip; queue ⊇ admitted so the range is a
        # valid superset)
        qstats = queue.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("seq").alias("lo"), F.max("seq").alias("hi"),
        ).first()
        # qstats materialized the queue cache, so the previous round's
        # bucketed expansion-count cache (store-less mode) is no longer
        # reachable — release it
        if pending_expand_cache is not None:
            pending_expand_cache.unpersist()
            pending_expand_cache = None
        if qstats.n == 0:
            queue.unpersist()
            break

        allowed, blocked, url_filtered = _entry_gates(queue, robots, config)
        prev_seen = seen_state
        # rows an earlier round deferred past its horizon were admitted
        # (and entered the seen state) then: they skip the gate now
        fresh = F.col("seq") >= round_no * config.seq_block
        carried = qstats.lo < round_no * config.seq_block
        admitted, seen_state = filter_unseen(
            allowed.filter(fresh) if carried else allowed, seen_state,
            mode=config.seen_mode, num_shards=config.num_shards,
        )
        if carried:
            admitted = admitted.unionByName(
                allowed.filter(~fresh).select(_CAND_COLS))
        if store is None and seen_state is not None \
                and config.seen_mode != "off":
            # same round-boundary plan truncation as next_queue below;
            # the filter state is tiny (shard blobs / fingerprints)
            seen_state = _local_ckpt(seen_state)
        scheduled, deferred, new_offsets = schedule(
            admitted, politeness, offsets,
            round_start=round_no * (config.horizon or 0.0),
            horizon=config.horizon,
            seq_bounds=(int(qstats.lo), int(qstats.hi)),
            host_priorities=host_priorities,
        )
        if config.collect_fetch_plans:
            # pre-persist: the full scheduling lineage (rank windows,
            # offset joins) is still inline here — the window plan
            # guard reads these (tests/test_plans.py)
            totals.setdefault("schedule_plans", []).append(
                scheduled._jdf.queryExecution().executedPlan().toString()
            )
        if config.pages_table:
            from ..sources.bucketed import write_bucketed

            import re as _re

            ftable = "crawl_frontier_%s_r%05d" % (
                _re.sub(r"[^0-9a-zA-Z_]", "_", config.job_id or "job"),
                round_no,
            )
            # one bucketed write per round buys a shuffle-free fetch
            # join (the write shuffles the SMALL frontier side once;
            # the huge corpus side never moves)
            write_bucketed(scheduled, ftable, buckets=pages_buckets)
            scheduled = spark.table(ftable)
            frontier_tables.append(ftable)
        else:
            scheduled = scheduled.persist()
        prev_offsets = offsets
        offsets = _merge_offsets(offsets, new_offsets)
        if store is None:
            # store-less (test/bench) mode: localCheckpoint truncates
            # the ledger's LOGICAL plan (the full_outer merge otherwise
            # nests every previous round's plan — see the next_queue
            # comment below) and materializes the per-host-tiny table
            # in one job; the store path gets the same truncation for
            # free from the commit/re-read cycle below
            offsets = _local_ckpt(offsets)
        else:
            offsets = offsets.persist()

        fetched = scheduled.join(
            pages.select("url", "html"), on="url", how="left"
        )
        if config.collect_fetch_plans:
            totals.setdefault("fetch_plans", []).append(
                fetched._jdf.queryExecution().executedPlan().toString()
            )
        out = _round_body(fetched, scheduled, content_state, round_no,
                          config)
        fetched, extracted, records, children = (
            out.fetched, out.extracted, out.records, out.children)
        expand_cache = getattr(children, "_expand_cache", None)
        next_queue = deferred.select(_CAND_COLS).unionByName(
            children.select(_CAND_COLS)
        )
        if config.collect_fetch_plans:
            totals.setdefault("queue_plans", []).append(
                next_queue._jdf.queryExecution().executedPlan().toString()
            )
        if store is None:
            # TRUNCATE the logical plan at the round boundary.  persist()
            # caches data but analysis still walks the full nested tree,
            # and the two-phase expansion references its upstream several
            # times (counts → cumsum/totals/bases), so the un-truncated
            # queue plan grows geometrically with rounds — observed as a
            # JVM stuck in analysis on 3+-round crawls.  localCheckpoint
            # swaps the plan for a LogicalRDD (one eager job — the queue
            # is materialized by the next round's qstats anyway); the
            # store path gets the same truncation from commit/re-read.
            next_queue = _local_ckpt(next_queue)
            if expand_cache is not None:
                # children are durably in the checkpoint blocks now
                expand_cache.unpersist()
                expand_cache = None
        else:
            next_queue = next_queue.persist()

        # bookkeeping job 2 of 2: every round counter in ONE action —
        # four 1-row aggregates cross-joined (each over an already
        # persisted or narrow frame), instead of four separate jobs
        # whose driver round-trips dominate at high round rates
        stats = (
            extracted.agg(
                F.coalesce(F.sum(
                    F.when(F.col("error").isNull(), 1).otherwise(0)
                ), F.lit(0)).alias("n_records"),
                F.coalesce(F.sum(
                    F.when(F.col("error").isNotNull(), 1).otherwise(0)
                ), F.lit(0)).alias("n_extract_errors"),
            )
            .crossJoin(fetched.agg(
                F.coalesce(F.sum(
                    F.when(F.col("html").isNull(), 1).otherwise(0)
                ), F.lit(0)).alias("n_fetch_miss"),
                *([F.coalesce(F.sum(
                    F.when(F.col("content_dup")
                           & F.col("html").isNotNull(), 1).otherwise(0)
                ), F.lit(0)).alias("n_content_dup")]
                  if config.content_seen else []),
            ))
            .crossJoin(scheduled.agg(
                F.count(F.lit(1)).alias("n_scheduled"),
            ))
            .crossJoin(blocked.agg(
                F.count(F.lit(1)).alias("n_blocked"),
            ))
            .crossJoin(
                url_filtered.agg(
                    F.count(F.lit(1)).alias("n_url_filtered"),
                )
                if url_filtered is not None
                else spark.range(1).select(
                    F.lit(0).cast("long").alias("n_url_filtered")
                )
            )
        ).first()
        n_records = int(stats.n_records)
        n_errors = int(stats.n_extract_errors) + int(stats.n_fetch_miss)
        n_scheduled = int(stats.n_scheduled)
        totals["records"] += n_records
        totals["errors"] += n_errors
        totals["scheduled"] += n_scheduled
        totals["blocked"] += int(stats.n_blocked)
        totals["url_filtered"] += int(stats.n_url_filtered)
        if config.content_seen:
            totals["content_dup"] += int(stats.n_content_dup)
        # carry the checksum state with the URL-seen state's
        # round-boundary plan truncation / release discipline
        prev_content = content_state
        content_state = out.content_state
        if store is None and content_state is not None:
            content_state = _local_ckpt(content_state)

        if store is not None:
            tables = {
                "queue": next_queue,
                "offsets": offsets,
                "records": records.drop("new_urls"),
                "lineage": out.lineage,
                "errors": out.errors,
            }
            if seen_state is not None and config.seen_mode != "off":
                tables["seen"] = seen_state
            if config.content_seen and content_state is not None:
                tables["content"] = content_state
            store.commit_round(
                round_no, tables,
                meta={"scheduled": n_scheduled, "records": n_records,
                      "errors": n_errors},
            )
            # re-read state from the committed round: the next round's
            # lineage starts from durable storage, not a live lineage
            # chain — and the live cached frames can be dropped (a
            # long crawl must not accumulate one pinned RDD per round)
            next_queue.unpersist()
            offsets.unpersist()
            if expand_cache is not None:
                # the committed parquet holds the children now
                expand_cache.unpersist()
                expand_cache = None
            next_queue = store.read_table(round_no, "queue")
            offsets = store.read_table(round_no, "offsets")
            if config.seen_mode != "off":
                seen_state = store.read_table(round_no, "seen")
            if config.content_seen:
                content_state = store.read_table(round_no, "content")

        queue.unpersist()
        scheduled.unpersist()
        fetched.unpersist()
        extracted.unpersist()
        if store is None:
            # free the SUPERSEDED rounds' localCheckpoint blocks —
            # every frame that could recompute through them has been
            # materialized by this round's actions (next_queue/new
            # seen/new offsets checkpoints were eager; stats ran the
            # scheduled/fetched/extracted caches)
            _release_local_checkpoint(prev_offsets)
            if prev_seen is not seen_state:
                _release_local_checkpoint(prev_seen)
            if prev_content is not content_state:
                _release_local_checkpoint(prev_content)
            _release_local_checkpoint(queue)
        pending_expand_cache = expand_cache
        queue = next_queue
        round_no += 1

    if pending_expand_cache is not None:
        pending_expand_cache.unpersist()
    for t in frontier_tables:  # per-round scratch tables
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    totals["rounds"] = round_no
    if store is not None:
        # close-of-crawl push payload (K3/K4 analog,
        # reference pipelines.py:159-192)
        from ..sinks.manifest import write_crawl_manifest

        totals["manifest_path"] = write_crawl_manifest(
            store, job_id=config.job_id, totals=dict(totals)
        )
    return totals
