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
written concurrently and the commit point follows the last of them),
re-read the next round's state from the store with schemas known here,
and release everything it persisted from one list the round owns
(``caches``), on normal exit and on error alike.  The round's counters
(scheduled, records, errors, gate drops, content duplicates) and the
next queue's size and seq range are observed (``DataFrame.observe``)
on the table writes themselves; only a crawl's first queue is counted
by an action of its own.

The queue-entry gates (``_entry_gates``), everything after the fetch
join (``_round_body``) and the tables a round commits
(``_round_tables``) are shared with the streaming crawl
(``streaming.pipeline.stream_crawl_round``), which commits its
micro-batches as rounds to the same kind of store; the engines differ
only in seen-gate placement and the ``schedule`` call.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field
from typing import Callable, Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..extract import extract_records
from ..lifetimes import persist, release
from ..operators.cumsum import two_phase_cumsum
from ..schema import HOST_OFFSETS_SCHEMA
from .checkpoint import BaseRoundStore, RoundStore
from .fingerprint import content_seen_flag, with_url_identity
from .politeness import schedule
from .robots import effective_politeness, robots_verdict
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
    # the running group count is two_phase_cumsum's range exchange over
    # the full sort key (the leading key is the DOUBLE fetch_ts, so no
    # closed-form seq-range bucket exists): NO unpartitioned window
    # remains anywhere in the expansion plan.  _round_body registers its
    # persisted bucketed count table with the round, which releases it
    # after commit; direct callers can unpersist it via the result's
    # ``_expand_cache`` attribute.
    cumsum_caches: List[DataFrame] = []
    bases = two_phase_cumsum(
        counts, "_cnt", _order, out_col="_base", caches=cumsum_caches,
    ).select(*_gkeys, "_base")
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
    # let the three branches recompute inconsistent bucket ids)
    out._expand_cache = cumsum_caches[0]
    return out


def _entry_gates(queue: DataFrame, robots: Optional[DataFrame],
                 config: CrawlConfig) -> DataFrame:
    """Queue entry as one frame: ``queue``'s rows plus a ``gate``
    column, "url_filtered" (the URL blocklist), else "blocked"
    (robots), else "allowed".  The round goes on with the allowed
    rows; ``_queue_stats`` counts the other two.  With both blocklists
    empty the URL gate is absent from the plan, and without a robots
    table so is the robots join.
    """
    gated = robots_verdict(queue, robots)
    gate = F.when(F.col("robots_blocked"), "blocked").otherwise("allowed")
    if config.blocked_domains or config.blocked_extensions:
        gated = url_filter(
            gated,
            blocked_domains=list(config.blocked_domains),
            blocked_extensions=list(config.blocked_extensions),
            allowed_schemes=config.allowed_schemes,
        )
        gate = F.when(~F.col("keep"), "url_filtered").otherwise(gate)
    return gated.select(*queue.columns, gate.alias("gate"))


def _queue_stats() -> List[Column]:
    """Aggregates over a gated queue: its size, its seq range (the
    skew-safe rank's bucketing and the carried-rows test) and the gate
    drops.  The crawl's first queue is counted with one action; every
    later queue is observed where the round before writes it."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.min("seq").alias("lo"), F.max("seq").alias("hi"),
        F.count(F.when(F.col("gate") == "blocked", 1)).alias("blocked"),
        F.count(F.when(F.col("gate") == "url_filtered", 1))
        .alias("url_filtered"),
    ]


class RoundOutputs(NamedTuple):
    records: DataFrame
    errors: DataFrame      # (url, error): extraction errors + fetch misses
    lineage: DataFrame
    children: DataFrame    # next round's candidates, ``_expand_cache`` attached
    content_state: Optional[DataFrame]  # next checksum state (lazy)
    fetch_stats: Observation  # scheduled, content_dup; the errors write fills it


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
    fetched = persist(fetched, caches)
    # the fetch-miss branch of the errors table reads every fetched row
    # (one per scheduled URL), and no query but that write holds the
    # observed node, so no other plan can complete it
    fetch_stats = Observation()
    miss_errors = fetched.observe(
        fetch_stats,
        F.count(F.lit(1)).alias("scheduled"),
        (F.count(F.when(F.col("content_dup") & F.col("html").isNotNull(), 1))
         if config.content_seen else F.lit(0)).alias("content_dup"),
    ).filter(F.col("html").isNull()).select(
        "url", F.lit("FetchMiss: url not in corpus").alias("error")
    )
    extract_src = fetched.filter(F.col("html").isNotNull())
    if config.content_seen:
        # the expensive half Mercator's test exists to skip:
        # content-dup pages are neither extracted nor expanded
        extract_src = extract_src.filter(~F.col("content_dup"))
    extracted = persist(extract_records(
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
    return RoundOutputs(records, errors, lineage, children, content_state,
                        fetch_stats)


def _committed_state(store: BaseRoundStore, n: int, seen_mode: str) -> Tuple:
    """(queue, seen, offsets, content) as round ``n`` committed them,
    read with their schemas (no inference job); a table the round did
    not commit reads as None."""
    schemas = _state_schemas(seen_mode)
    return tuple(store.read_table(n, name, schema=schemas[name])
                 for name in ("queue", "seen", "offsets", "content"))


def _conform(df: DataFrame, schema: StructType) -> DataFrame:
    return df.select([F.col(f.name).cast(f.dataType) for f in schema.fields])


def _round_tables(out: RoundOutputs, offsets: DataFrame, config: CrawlConfig
                  ) -> Tuple[Dict[str, DataFrame], Callable[[], dict]]:
    """The tables both engines commit for a round — ``offsets`` (the
    merged host offsets), ``records``, ``lineage``, ``errors`` and, with
    content-seen, ``content`` — and the round's meta ``{scheduled,
    records, errors}``, a callable to call once the writes have
    returned.  The counters are observed on the writes themselves: one
    query holds each observed node, always above anything adaptive
    execution could prune."""
    counted = {name: Observation() for name in ("records", "errors")}
    n_rows = F.count(F.lit(1)).alias("n")
    schemas = _state_schemas(config.seen_mode)
    tables = {
        "offsets": _conform(offsets, schemas["offsets"]),
        "records": out.records.drop("new_urls")
        .observe(counted["records"], n_rows),
        "lineage": out.lineage,
        "errors": out.errors.observe(counted["errors"], n_rows),
    }
    if config.content_seen and out.content_state is not None:
        tables["content"] = _conform(out.content_state, schemas["content"])

    def meta() -> dict:
        return {"scheduled": out.fetch_stats.get["scheduled"],
                "records": counted["records"].get["n"],
                "errors": counted["errors"].get["n"]}

    return tables, meta


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
    committed rounds resumes after the last one.  A crawl given no
    store (``perfbench``'s horizon probe) commits to a
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
    # the stats (``_queue_stats``) of ``queue``: None until the first
    # round counts them; each commit observes them for the next queue
    qstats: Optional[dict] = None

    while queue is not None and round_no < config.max_rounds:
        # every frame this round persists, and its bucketed frontier
        # table: released in the finally below, after the commit or on
        # error
        caches: List[DataFrame] = []
        ftable: Optional[str] = None
        try:
            gated = persist(_entry_gates(queue, robots, config), caches)
            if qstats is None:
                qstats = gated.agg(*_queue_stats()).first().asDict()
            if qstats["n"] == 0:
                break

            allowed = gated.filter(F.col("gate") == "allowed").drop("gate")
            # rows an earlier round deferred past its horizon were
            # admitted (and entered the seen state) then: they skip the
            # gate now
            fresh = F.col("seq") >= round_no * config.seq_block
            carried = qstats["lo"] < round_no * config.seq_block
            admitted, seen_state = filter_unseen(
                allowed.filter(fresh) if carried else allowed, seen_state,
                mode=config.seen_mode, num_shards=config.num_shards,
                caches=caches,
            )
            if carried:
                admitted = admitted.unionByName(
                    allowed.filter(~fresh).select(_CAND_COLS))
            # the ranked frame is persisted once in ``caches``: scheduled,
            # deferred and new_offsets all read it; the queue's seq range
            # (a superset of admitted's) buckets the rank
            scheduled, deferred, new_offsets = schedule(
                admitted, politeness, offsets,
                round_start=round_no * (config.horizon or 0.0),
                horizon=config.horizon,
                seq_bounds=(int(qstats["lo"]), int(qstats["hi"])),
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
            next_queue = deferred.select(_CAND_COLS).unionByName(
                out.children.select(_CAND_COLS)
            )
            if config.collect_fetch_plans:
                for name, df in (("queue_plans", next_queue),
                                 ("offsets_plans", offsets)):
                    totals.setdefault(name, []).append(
                        df._jdf.queryExecution().executedPlan().toString())

            schemas = _state_schemas(config.seen_mode)
            tables, meta = _round_tables(out, offsets, config)
            queue_stats = Observation()
            tables = {
                # the next round's entry gates run here too, for its stats
                "queue": _conform(
                    _entry_gates(next_queue, robots, config)
                    .observe(queue_stats, *_queue_stats()),
                    schemas["queue"]),
                **tables,
            }
            if seen_state is not None and config.seen_mode != "off":
                tables["seen"] = _conform(seen_state, schemas["seen"])

            def round_meta() -> dict:
                counts = meta()
                content_dup = out.fetch_stats.get["content_dup"]
                for key, value in {**counts, "content_dup": content_dup,
                                   "blocked": qstats["blocked"],
                                   "url_filtered": qstats["url_filtered"]
                                   }.items():
                    totals[key] += value
                return counts

            store.commit_round(round_no, tables, meta=round_meta)
            qstats = queue_stats.get
            # re-read state from the committed round: the next round's
            # lineage starts from durable storage, not a live lineage
            # chain — and this round's cached frames can be dropped (a
            # long crawl must not accumulate one pinned RDD per round)
            queue, seen_state, offsets, content_state = _committed_state(
                store, round_no, config.seen_mode)
        finally:
            release(caches)
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
