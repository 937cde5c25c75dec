"""The crawl round loop (F6) — the engine's top-level query.

Each round is one committed unit of work (reference analog: the
Scrapy reactor draining its scheduler, resumable via JOBDIR):

    queue → robots gate → URL-seen gate → politeness schedule
          → "fetch" (join against the pages corpus)
          → Arrow extraction UDF → records sink
          → frontier expansion (new_urls → next round's queue)
          → lineage/metrics → atomic checkpoint commit

All state (queue, seen set, host offsets, records, lineage) lives in
the round store, so a killed job resumes from the last committed round
bit-identically (test: tests/test_rounds.py).  Every round has one
shape: persist what it reads twice, commit (the round's tables are
written concurrently, its counter query runs alongside them, and the
commit point follows the last of them), re-read the next round's
state from the store with schemas known here, and release everything
it persisted from one list the round owns (``caches``), on normal exit
and on error alike.

The queue-entry gates (``_entry_gates``) and everything after the
fetch join (``_round_body``) are shared with the streaming crawl
(``streaming.pipeline.stream_crawl_round``); the engines differ only
in seen-gate placement, the ``schedule`` call and where state lands.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field
from typing import Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..extract import extract_records
from ..schema import HOST_OFFSETS_SCHEMA, POLITENESS_SCHEMA, ROBOTS_SCHEMA
from .checkpoint import BaseRoundStore, RoundStore
from .fingerprint import content_seen_flag, with_url_identity
from .politeness import schedule
from .robots import effective_politeness, robots_filter
from .seen import CANDIDATE_SCHEMA, CUCKOO_STATE_SCHEMA, filter_unseen
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

# error strings a lineage row keeps per partition (``error_rows``
# counts them all)
LINEAGE_ERROR_SAMPLES = 20

# the state tables a round commits and the next round re-reads, with
# their schemas: written conformed to them, read without inference
_CONTENT_SCHEMA = StructType([StructField("content_fp", StringType())])
_EXACT_SEEN_SCHEMA = StructType([StructField("fingerprint", LongType())])


def _state_schemas(seen_mode: str) -> Dict[str, StructType]:
    return {
        "queue": CANDIDATE_SCHEMA,
        "seen": (_EXACT_SEEN_SCHEMA if seen_mode == "exact"
                 else CUCKOO_STATE_SCHEMA),
        "offsets": HOST_OFFSETS_SCHEMA,
        "content": _CONTENT_SCHEMA,
    }


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


def _persist(df: DataFrame, caches: List[DataFrame]) -> DataFrame:
    """``df.persist()``, registered in the round's ``caches``."""
    caches.append(df.persist())
    return caches[-1]


def _release(caches: List[DataFrame]) -> None:
    """Unpersist everything the round registered in ``caches``."""
    for df in caches:
        df.unpersist()


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
    # re-plan inside cached plans).  _round_body registers the cache
    # with the round, which releases it after commit; direct callers
    # can unpersist via the ``_expand_cache`` attribute on the result.
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
                config: CrawlConfig, caches: List[DataFrame]
                ) -> RoundOutputs:
    """Everything after the fetch join: content-seen flag against the
    carried checksum state, extraction, errors, lineage and child
    expansion.  ``fetched`` is the raw ``scheduled`` ⋈ pages join;
    ``run_crawl`` and the streaming ``foreachBatch`` both call this.
    The frames it persists (``fetched``, ``extracted``, the expansion
    count cache) go into the caller's ``caches``.
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
    fetched = _persist(fetched, caches)
    miss_errors = fetched.filter(F.col("html").isNull()).select(
        "url", F.lit("FetchMiss: url not in corpus").alias("error")
    )
    extract_src = fetched.filter(F.col("html").isNotNull())
    if config.content_seen:
        # the expensive half Mercator's test exists to skip:
        # content-dup pages are neither extracted nor expanded
        extract_src = extract_src.filter(~F.col("content_dup"))
    extracted = _persist(extract_records(
        extract_src.select("url", "html", "format")
    ), caches)

    records = extracted.filter(F.col("error").isNull())
    errors = extracted.filter(F.col("error").isNotNull()).select(
        "url", "error"
    ).unionByName(miss_errors)

    # per-partition lineage + metrics (F8).  ``errors`` samples the
    # first LINEAGE_ERROR_SAMPLES errors of each partition in partition
    # order: the rank filter runs as a window group limit on both sides
    # of the shuffle, so no task ever holds more than that many strings
    # of one partition; ``error_rows`` stays exact
    tagged = extracted.withColumn("_pid", F.spark_partition_id())
    samples = (
        tagged.filter(F.col("error").isNotNull())
        .withColumn("_pos", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_pid").orderBy("_pos")))
        .filter(F.col("_rn") <= LINEAGE_ERROR_SAMPLES)
        .groupBy("_pid")
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "error")))
             .alias("_samples"))
    )
    lineage = (
        tagged.groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("emitted_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        )
        .join(F.broadcast(samples), on="_pid", how="left")
        .select(
            F.lit(round_no).alias("round"),
            F.col("_pid").alias("partition_id"),
            "input_rows", "emitted_rows", "error_rows",
            F.coalesce(F.col("_samples.error"),
                       F.array().cast("array<string>")).alias("errors"),
        )
    )

    children = _expand_children(
        records, scheduled,
        seq_base=(round_no + 1) * config.seq_block,
        max_depth=config.max_depth,
        format_routes=config.child_format_routes,
    )
    caches.append(children._expand_cache)
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


def _committed_state(store: BaseRoundStore, n: int, seen_mode: str) -> Tuple:
    """(queue, seen, offsets, content) as round ``n`` committed them,
    read with their schemas (no inference job); a table the round did
    not commit reads as None."""
    schemas = _state_schemas(seen_mode)
    return tuple(store.read_table(n, name, schema=schemas[name])
                 for name in ("queue", "seen", "offsets", "content"))


def _conform(df: DataFrame, schema: StructType) -> DataFrame:
    return df.select([F.col(f.name).cast(f.dataType) for f in schema.fields])


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    politeness: Optional[DataFrame] = None,
    robots: Optional[DataFrame] = None,
    config: CrawlConfig = CrawlConfig(),
    host_priorities: Optional[DataFrame] = None,
    *,
    store: Optional[BaseRoundStore] = None,
) -> Dict:
    """Run the crawl to completion (or max_rounds); returns a summary.

    ``host_priorities`` (url_host, host_priority) is the optional
    host-authority dimension (e.g. ``linkgraph.rank_priorities`` over a
    previous crawl's outlink graph), applied per round inside
    ``schedule`` — see its docstring for the no-compounding contract.

    ``pages`` is the Common-Crawl-style corpus (the sandbox "fetch" is a
    url equi-join — at cluster scale both sides are bucketed by
    url_host, making it shuffle-free; SURVEY.md §2.6 J5).

    Crawl state always lives in ``store``, any ``BaseRoundStore``
    (``RoundStore(spark, path)``, or ``SnapshotLogStore`` — the
    Iceberg-shaped metadata log): every round commits to it, the next
    round re-reads its state from it, and a store that already holds
    committed rounds resumes after the last one.  The former path
    keyword is gone; pass ``store=RoundStore(spark, path)``.  A crawl
    given no store (``perfbench``'s horizon probe) commits to a
    throwaway ``RoundStore`` in a temporary directory that is removed
    on return, so its summary has no ``manifest_path``.
    """
    if store is None:
        with tempfile.TemporaryDirectory(prefix="crawl-store-") as root:
            totals = run_crawl(spark, seeds, pages, politeness, robots,
                               config, host_priorities,
                               store=RoundStore(spark, root))
        del totals["manifest_path"]
        return totals
    politeness = effective_politeness(politeness, robots)

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

    last = store.last_committed_round()
    if last is None:
        round_no = 0
        queue, seen_state, offsets, content_state = seeds, None, None, None
    else:
        round_no = last + 1
        queue, seen_state, offsets, content_state = _committed_state(
            store, last, config.seen_mode)

    totals = {"records": 0, "errors": 0, "scheduled": 0, "blocked": 0,
              "url_filtered": 0, "content_dup": 0}

    while queue is not None and round_no < config.max_rounds:
        # every frame this round persists, and its bucketed frontier
        # table: released in the finally below, after the commit or on
        # error
        caches: List[DataFrame] = []
        ftable: Optional[str] = None
        try:
            queue = _persist(queue, caches)
            # bookkeeping job 1 of 2: queue size + seq bounds in one
            # action (the bounds feed the skew-safe rank's bucketing,
            # saving its own driver round-trip; queue ⊇ admitted so the
            # range is a valid superset)
            qstats = queue.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("seq").alias("lo"), F.max("seq").alias("hi"),
            ).first()
            if qstats.n == 0:
                break

            allowed, blocked, url_filtered = _entry_gates(queue, robots,
                                                          config)
            # rows an earlier round deferred past its horizon were
            # admitted (and entered the seen state) then: they skip the
            # gate now
            fresh = F.col("seq") >= round_no * config.seq_block
            carried = qstats.lo < round_no * config.seq_block
            admitted, seen_state = filter_unseen(
                allowed.filter(fresh) if carried else allowed, seen_state,
                mode=config.seen_mode, num_shards=config.num_shards,
                caches=caches,
            )
            if carried:
                admitted = admitted.unionByName(
                    allowed.filter(~fresh).select(_CAND_COLS))
            # the ranked frame is persisted once in ``caches``: scheduled,
            # deferred and new_offsets all read it
            scheduled, deferred, new_offsets = schedule(
                admitted, politeness, offsets,
                round_start=round_no * (config.horizon or 0.0),
                horizon=config.horizon,
                seq_bounds=(int(qstats.lo), int(qstats.hi)),
                host_priorities=host_priorities,
                caches=caches,
            )
            if config.collect_fetch_plans:
                # the window plan guard reads these (tests/test_plans.py)
                totals.setdefault("schedule_plans", []).append(
                    scheduled._jdf.queryExecution().executedPlan().toString()
                )
            if config.pages_table:
                from ..sources.bucketed import clear_table, write_bucketed

                import re as _re

                ftable = "crawl_frontier_%s_r%05d" % (
                    _re.sub(r"[^0-9a-zA-Z_]", "_", config.job_id or "job"),
                    round_no,
                )
                # a crawl killed inside this round left the table's
                # location behind; the write below cannot create the
                # table over it
                clear_table(spark, ftable)
                # one bucketed write per round buys a shuffle-free fetch
                # join (the write shuffles the SMALL frontier side once;
                # the huge corpus side never moves)
                write_bucketed(scheduled, ftable, buckets=pages_buckets)
                scheduled = spark.table(ftable)
            offsets = _merge_offsets(offsets, new_offsets)

            fetched = scheduled.join(
                pages.select("url", "html"), on="url", how="left"
            )
            if config.collect_fetch_plans:
                totals.setdefault("fetch_plans", []).append(
                    fetched._jdf.queryExecution().executedPlan().toString()
                )
            out = _round_body(fetched, scheduled, content_state, round_no,
                              config, caches)
            fetched, extracted = out.fetched, out.extracted
            next_queue = deferred.select(_CAND_COLS).unionByName(
                out.children.select(_CAND_COLS)
            )
            if config.collect_fetch_plans:
                for name, df in (("queue_plans", next_queue),
                                 ("offsets_plans", offsets)):
                    totals.setdefault(name, []).append(
                        df._jdf.queryExecution().executedPlan().toString())

            # bookkeeping job 2 of 2: every round counter in ONE action —
            # four 1-row aggregates cross-joined (each over a persisted or
            # narrow frame), instead of four separate jobs whose driver
            # round-trips dominate at high round rates.  The store runs it
            # alongside the table writes and puts its result in the
            # round's manifest
            stats_query = (
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
            )

            def round_meta() -> dict:
                stats = stats_query.first()
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
                return {"scheduled": n_scheduled, "records": n_records,
                        "errors": n_errors}

            schemas = _state_schemas(config.seen_mode)
            tables = {
                "queue": _conform(next_queue, schemas["queue"]),
                "offsets": _conform(offsets, schemas["offsets"]),
                "records": out.records.drop("new_urls"),
                "lineage": out.lineage,
                "errors": out.errors,
            }
            if seen_state is not None and config.seen_mode != "off":
                tables["seen"] = _conform(seen_state, schemas["seen"])
            if config.content_seen and out.content_state is not None:
                tables["content"] = _conform(out.content_state,
                                             schemas["content"])
            store.commit_round(round_no, tables, meta=round_meta)
            # re-read state from the committed round: the next round's
            # lineage starts from durable storage, not a live lineage
            # chain — and this round's cached frames can be dropped (a
            # long crawl must not accumulate one pinned RDD per round)
            queue, seen_state, offsets, content_state = _committed_state(
                store, round_no, config.seen_mode)
        finally:
            _release(caches)
            if ftable is not None:  # the round's scratch table
                spark.sql(f"DROP TABLE IF EXISTS {ftable}")
        round_no += 1

    totals["rounds"] = round_no
    # close-of-crawl push payload (K3/K4 analog,
    # reference pipelines.py:159-192)
    from ..sinks.manifest import write_crawl_manifest

    totals["manifest_path"] = write_crawl_manifest(
        store, job_id=config.job_id, totals=dict(totals)
    )
    return totals
