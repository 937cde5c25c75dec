"""Streaming extraction pipeline.

``stream_extract`` turns the batch extraction into a continuous one:
``readStream`` over a pages directory (new parquet files = newly
fetched WARC batches), the same Arrow extraction UDF, and a
``foreachBatch`` sink that reuses the batch writers.

``stream_crawl_round`` runs the batch round's own stages per
micro-batch: ``frontier.rounds._entry_gates`` (URL blocklist, robots),
``frontier.politeness.schedule`` and ``frontier.rounds._round_body``
(content-seen, extraction, errors, lineage, ``_expand_children``),
driven by the same ``CrawlConfig`` as ``run_crawl``.  Its URL-seen
gate ``stream_unseen`` runs the batch gate's per-shard probe
(``frontier.seen._probe_shard``) against GroupState.

``stream_host_stats`` is the watermarked per-host fetch-metrics
aggregation (1-minute tumbling windows over ``warc_ts``, 10-minute
late-data watermark) — the streaming analog of the lineage/metrics
table (SURVEY.md §2.3 F8).
"""

from __future__ import annotations

import glob
import os
from typing import Callable, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..extract import extract_records
from ..frontier.politeness import schedule
from ..frontier.robots import effective_politeness
from ..frontier.rounds import (
    _CAND_COLS, CrawlConfig, _entry_gates, _merge_offsets,
    _release, _round_body,
)
from ..frontier.cuckoo import CuckooShard
from ..frontier.seen import (
    CANDIDATE_SCHEMA, _cuckoo_insert, _insert_many, _probe_shard,
    shard_of_host,
)
from ..schema import PAGES_WITH_FORMAT_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream
        .schema(PAGES_WITH_FORMAT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_extract(pages_stream: DataFrame, checkpoint: str,
                   batch_fn: Optional[Callable[[DataFrame, int], None]] = None,
                   output_path: Optional[str] = None,
                   available_now: bool = True):
    """Continuous extraction.  Either a custom ``batch_fn(df, epoch)``
    or a parquet ``output_path`` sink; returns the StreamingQuery."""
    records = extract_records(pages_stream)

    if batch_fn is None:
        if output_path is None:
            raise ValueError("need batch_fn or output_path")

        def batch_fn(df: DataFrame, epoch: int) -> None:
            df.write.mode("append").parquet(output_path)

    writer = (
        records.writeStream
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


UNSEEN_OUTPUT_SCHEMA = "url string, fingerprint long, seq long"
UNSEEN_STATE_SCHEMA = "fps array<long>"
UNSEEN_CUCKOO_STATE_SCHEMA = "blob binary"


class _FingerprintSet:
    """Exact-mode shard for the shared probe: the shard's fingerprint
    array (the ``fps array<long>`` GroupState)."""

    def __init__(self, fps=()):
        self.fps = np.asarray(fps, dtype=np.int64)

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        return np.isin(hashes, self.fps)

    def insert_many(self, keys: np.ndarray) -> None:
        self.fps = np.concatenate([self.fps, keys])

    def to_state(self) -> list:
        return self.fps.tolist()


def _probe_state(new_shard: Callable, load_shard: Callable,
                 insert: Callable, dump: Callable, out_cols: list,
                 key: str = "fingerprint", order: str = "seq") -> Callable:
    """``applyInPandasWithState`` function that runs the batch gate's
    per-shard probe (``frontier.seen._probe_shard``) against the
    shard's GroupState.  The shard's Arrow chunks are concatenated
    first, so the lowest ``order`` wins across the whole micro-batch
    (one shard's slice is ~batch/num_shards rows — bounded)."""
    def fn(grp: Tuple, pdfs: Iterator[pd.DataFrame], state):
        shard = load_shard(state.get[0]) if state.exists else new_shard()
        chunks = list(pdfs)
        if chunks:
            out = _probe_shard(pd.concat(chunks, ignore_index=True), shard,
                               int(grp[0]), insert, key, order)[out_cols]
            if len(out):
                yield out
        state.update((dump(shard),))

    return fn


def stream_unseen(cand_stream: DataFrame, num_shards: int = 64,
                  mode: str = "exact",
                  shard_buckets: int = 1 << 16,
                  carry_cols: Optional[list] = None) -> DataFrame:
    """Streaming URL-seen gate — the continuous analog of
    ``frontier.seen.filter_unseen`` (F1), built on
    ``applyInPandasWithState``.

    Candidates are grouped by shard — ``xxhash64(url_host) %
    num_shards`` when the frame carries ``url_host`` (the batch gate's
    sharding, so batch-built cuckoo blobs and streaming state place
    keys identically), else ``fingerprint % num_shards`` — and each
    shard's GroupState carries its membership structure across
    micro-batches: a URL admitted in batch 3 stays seen in batch 300,
    surviving restarts through the state store checkpoint.  Each
    micro-batch runs the batch gate's per-shard probe
    (``frontier.seen._probe_shard``) over the shard's Arrow chunks
    concatenated, so the lowest ``seq`` wins batch-wide.

    ``mode="exact"`` keeps the shard's fingerprint set (8 bytes/key —
    fine to ~10^8 frontier).  ``mode="cuckoo"`` keeps the same
    serialized cuckoo shard the batch gate uses (6 bytes per occupied
    slot, at most the dense ~2 bytes/slot array — see cuckoo.py): the
    10^10 path, at the filter's false-positive cost; an exhausted
    eviction walk fails the query, naming the shard.
    State volume per task is |frontier| / num_shards either way, and
    the only shuffle is the one groupBy.

    ``carry_cols`` widens the output beyond the default (url,
    fingerprint, seq) with further input columns passed through
    unchanged — the full-candidate form ``stream_crawl_round`` feeds
    its round body with.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    backends = {
        # state schema, new shard, load shard, insert, dump shard
        "exact": (UNSEEN_STATE_SCHEMA, _FingerprintSet, _FingerprintSet,
                  _insert_many, _FingerprintSet.to_state),
        "cuckoo": (UNSEEN_CUCKOO_STATE_SCHEMA,
                   lambda: CuckooShard(n_buckets=shard_buckets),
                   lambda blob: CuckooShard.from_bytes(bytes(blob)),
                   _cuckoo_insert, CuckooShard.to_bytes),
    }
    if mode not in backends:
        raise ValueError(f"stream_unseen supports mode 'exact' or "
                         f"'cuckoo', got {mode!r}")
    schema, *backend = backends[mode]

    out_cols = ["url", "fingerprint", "seq"] + [
        c for c in (carry_cols or [])
        if c not in ("url", "fingerprint", "seq")
    ]
    in_fields = {f.name: f for f in cand_stream.schema.fields}
    out_struct = StructType([in_fields[c] for c in out_cols])

    if "url_host" in cand_stream.columns:
        shard = shard_of_host(F.col("url_host"), num_shards)
    else:
        shard = F.pmod(F.col("fingerprint"), F.lit(num_shards))
    return (
        cand_stream
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandasWithState(
            _probe_state(*backend, out_cols),
            outputStructType=out_struct,
            stateStructType=schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _epoch_dir(root: str, epoch: int) -> str:
    return os.path.join(root, f"epoch-{int(epoch):09d}")


def _prior_epoch(spark: SparkSession, root: str,
                 epoch: int) -> Optional[DataFrame]:
    """The epoch-versioned ledger under ``root`` as of the highest
    ``epoch-N`` with N < ``epoch`` (None before the first), so a
    retried epoch rebuilds from the same basis."""
    prior = [p for p in sorted(glob.glob(os.path.join(root, "epoch-*")))
             if int(p.rsplit("-", 1)[1]) < int(epoch)]
    return spark.read.parquet(prior[-1]) if prior else None


def stream_schedule(cand_stream: DataFrame, checkpoint: str,
                    output_path: str, offsets_path: str,
                    politeness: Optional[DataFrame] = None,
                    available_now: bool = True):
    """Streaming politeness scheduler (SURVEY §1.2: "streaming via
    foreachBatch over the same round function").

    Each micro-batch of frontier candidates runs the SAME
    ``frontier.politeness.schedule`` the batch round loop uses; the
    per-host offset ledger (``next_fetch_ts`` per host) is carried
    across micro-batches through an epoch-versioned parquet ledger and
    merged with the batch loop's ``_merge_offsets`` — so each
    micro-batch IS exactly one batch round (same function, same
    carried-offset semantics) and per-host spacing holds CONTINUOUSLY:
    a host throttled to one fetch per ``delay`` seconds stays
    throttled across batch boundaries.  (A batch boundary closes any
    partially-filled concurrency slot — conservative, never early.)

    Epoch-versioned writes make retried micro-batches idempotent: a
    re-run of epoch N overwrites ``epoch-N`` of both ledgers, and the
    next batch reads only the highest committed epoch.  At scale both
    writers are per-host-tiny; the scheduled output is the streaming
    peer of the round loop's ``scheduled`` table.
    """
    from ..frontier.fingerprint import with_url_identity

    def batch_fn(df: DataFrame, epoch: int) -> None:
        if "url_host" not in df.columns:
            df = with_url_identity(df)
        offsets = _prior_epoch(df.sparkSession, offsets_path, epoch)
        scheduled, _deferred, new_offsets = schedule(
            df, politeness, offsets
        )
        (
            scheduled.withColumn("epoch", F.lit(int(epoch)))
            .write.mode("overwrite")
            .parquet(_epoch_dir(output_path, epoch))
        )
        _merge_offsets(offsets, new_offsets).write.mode("overwrite").parquet(
            _epoch_dir(offsets_path, epoch)
        )

    writer = (
        cand_stream.writeStream
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_crawl_round(spark: SparkSession, frontier_path: str,
                       pages: DataFrame, work_dir: str, *,
                       config: CrawlConfig,
                       politeness: Optional[DataFrame] = None,
                       robots: Optional[DataFrame] = None,
                       host_priorities: Optional[DataFrame] = None,
                       max_files_per_trigger: int = 64,
                       available_now: bool = True):
    """The FULL streaming crawl engine — the batch round
    (``frontier.rounds.run_crawl``) as one continuous query, closing
    the frontier loop through the watched directory:

        frontier files → URL-seen gate (``stream_unseen``, GroupState)
        → foreachBatch [``_entry_gates`` (URL blocklist, robots) →
        ``schedule`` with the carried offset ledger → fetch join →
        ``_round_body`` (content-seen, extraction, errors, lineage,
        ``_expand_children``)] → child candidates written BACK into
        ``frontier_path`` → picked up as the next micro-batch.

    ``_entry_gates`` and ``_round_body`` are the functions ``run_crawl``
    calls, with the same ``config``, so the URL gate, robots, per-host
    spacing, content-seen, LIFO ordering, depth caps and child format
    routing are definitionally identical; the micro-batch epoch plays
    the round number.  What differs is where the seen gate sits
    (before the body, as the one stateful exchange) and where state
    lands: the URL-seen state in the state-store checkpoint, the
    per-host offsets and checksum state in epoch-versioned parquet
    ledgers — so all of it survives a full stop/start.  With a static
    robots table the admitted-then-blocked order changes no outcome.

    ``config`` must use ``seen_mode`` exact or cuckoo, and no
    ``horizon`` (every admitted URL is scheduled in its micro-batch)
    or ``pages_table``; ``max_rounds`` bounds :func:`drive_stream_crawl`,
    and ``job_id`` / ``collect_fetch_plans`` shape only the batch summary.

    Epoch-versioned writes make retried micro-batches idempotent:
    ``scheduled``, ``records``, ``errors`` and ``lineage`` land in
    ``work_dir/<table>/epoch-N`` (overwrite; errors and lineage with
    the batch store's schemas), child files as
    ``frontier_path/children-N-*.parquet`` (fixed names per epoch —
    the file source processes each path once, so a retry cannot
    double-enqueue).  ``availableNow`` processes the files present at
    start then stops; children written during the run form the NEXT
    trigger's input — use :func:`drive_stream_crawl` for the restart
    loop that drains the frontier to empty.

    Storage restriction: the child loop-back publishes files with
    driver-local ``glob()`` + ``os.replace()``, so ``frontier_path``
    and ``work_dir`` must live on the SAME local POSIX filesystem
    (local disk / NFS mount) — not HDFS or S3, and not two different
    mounts (``os.replace`` across devices raises ``EXDEV``).  On a
    cluster, point both at a shared mount, or swap the rename for the
    Hadoop FileSystem API (``spark._jvm.org.apache.hadoop.fs``) —
    the per-epoch fixed-name idempotency contract is unchanged.
    """
    if config.seen_mode not in ("exact", "cuckoo"):
        raise ValueError(f"the streaming seen gate needs seen_mode 'exact' "
                         f"or 'cuckoo', got {config.seen_mode!r}")
    if config.horizon is not None:
        raise ValueError("the streaming crawl schedules every admitted URL "
                         "in its micro-batch; horizon must be None")
    if config.pages_table:
        raise ValueError("the streaming crawl fetches from the pages frame; "
                         "pages_table must be None")
    pol = effective_politeness(politeness, robots)
    pages_slim = pages.select("url", "html")

    cand = (
        spark.readStream
        .schema(CANDIDATE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(frontier_path)
    )
    admitted = stream_unseen(cand, num_shards=config.num_shards,
                             mode=config.seen_mode, carry_cols=_CAND_COLS)

    def round_body(df: DataFrame, epoch: int) -> None:
        epoch = int(epoch)

        def work_path(name: str) -> str:
            return os.path.join(work_dir, name)

        def write(frame: DataFrame, name: str) -> None:
            frame.write.mode("overwrite").parquet(
                _epoch_dir(work_path(name), epoch))

        allowed, _blocked, _url_filtered = _entry_gates(df, robots, config)
        offsets = _prior_epoch(spark, work_path("offsets"), epoch)
        # everything the epoch persists (schedule's ranked frame, then
        # _round_body's fetched, extracted and expansion count cache),
        # released once
        caches: List[DataFrame] = []
        try:
            scheduled, _deferred, new_offsets = schedule(
                allowed, pol, offsets, host_priorities=host_priorities,
                caches=caches,
            )
            write(scheduled.withColumn("epoch", F.lit(epoch)), "scheduled")
            # the checksum ledger rebuilds a retried epoch from epoch-1's
            # basis, exactly like the offsets ledger
            prior_fps = (_prior_epoch(spark, work_path("content"), epoch)
                         if config.content_seen else None)
            out = _round_body(
                scheduled.join(pages_slim, on="url", how="left"), scheduled,
                prior_fps, epoch, config, caches,
            )
            write(out.records.drop("new_urls")
                  .withColumn("epoch", F.lit(epoch)), "records")
            write(out.errors, "errors")
            write(out.lineage, "lineage")
            if config.content_seen:
                write(out.content_state, "content")
            write(_merge_offsets(offsets, new_offsets), "offsets")

            children = out.children.select(_CAND_COLS)
            # land children under a scratch dir, then give each part a
            # FIXED per-epoch name inside the watched directory: the file
            # source keys processed files by path, so a retried epoch
            # re-creates the same paths and nothing double-enqueues
            # a retried epoch may produce FEWER partitions than the first
            # attempt; sweep every prior children-{epoch}-* first so the
            # retry fully replaces its earlier output (stale higher-index
            # files would be re-enqueued, and only the seen gate saves us)
            for stale in glob.glob(os.path.join(
                    frontier_path, f"children-{epoch:09d}-*.parquet")):
                os.remove(stale)
            if not children.isEmpty():
                # publish only non-empty rounds: Spark writes one (empty)
                # part file even for an empty frame, and an always-growing
                # watched dir would re-trigger empty micro-batches forever
                # — the drained-frontier signal drive_stream_crawl watches
                # for is "this round added no files"
                scratch = work_path(f"children-{epoch:09d}")
                children.write.mode("overwrite").parquet(scratch)
                parts = sorted(
                    glob.glob(os.path.join(scratch, "part-*.parquet"))
                )
                for i, p in enumerate(parts):
                    os.replace(p, os.path.join(
                        frontier_path,
                        f"children-{epoch:09d}-{i:05d}.parquet"
                    ))
        finally:
            _release(caches)

    writer = (
        admitted.writeStream
        .foreachBatch(round_body)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drive_stream_crawl(spark: SparkSession, frontier_path: str,
                       pages: DataFrame, work_dir: str, *,
                       config: CrawlConfig,
                       round_timeout: float = 600.0,
                       **kwargs) -> dict:
    """Drain loop for :func:`stream_crawl_round`: ``availableNow``
    processes the frontier files present at START, so children written
    during a run form the NEXT run's input — this helper owns the
    restart loop, re-running the query until a round publishes no new
    frontier files (the crawl has drained) or ``config.max_rounds`` is
    hit.  ``kwargs`` pass through to :func:`stream_crawl_round`.

    Drain detection is the file-source's own contract: each round
    snapshots the watched directory before starting; a round that adds
    nothing processed only already-seen-or-empty input, and — because
    every child file published by round N is consumed by round N+1 —
    an unchanged directory means nothing is left to process.  State
    (URL-seen GroupState, offsets ledger) carries across the restarts
    exactly as across any stop/start.

    Returns ``{"rounds": n, "drained": bool, "records_path": …}``;
    ``drained`` False means max_rounds stopped the loop first (a
    depth-capped crawl drains naturally in ``max_depth + 1`` rounds +
    one empty confirming round).
    """
    rounds, drained = 0, False
    while rounds < config.max_rounds:
        before = set(glob.glob(os.path.join(frontier_path, "*.parquet")))
        q = stream_crawl_round(spark, frontier_path, pages, work_dir,
                               config=config, available_now=True, **kwargs)
        if not q.awaitTermination(round_timeout):
            q.stop()
            raise TimeoutError(
                f"stream crawl round {rounds} exceeded "
                f"{round_timeout}s"
            )
        rounds += 1
        after = set(glob.glob(os.path.join(frontier_path, "*.parquet")))
        if after == before:
            drained = True
            break
    return {
        "rounds": rounds,
        "drained": drained,
        "records_path": os.path.join(work_dir, "records"),
    }


CLEAN_CORPUS_OUTPUT_SCHEMA = ("doc_id long, guessed_lang string, "
                              "token_cnt long, fingerprint long")
CLEAN_CORPUS_STATE_SCHEMA = "fps array<long>"


def stream_clean_corpus(docs_stream: DataFrame, num_shards: int = 64,
                        lang_threshold: float = 0.04,
                        benchmark_grams: Optional[list] = None,
                        contamination_ngram: int = 13,
                        mix_rates: Optional[dict] = None,
                        mix_group_cols: tuple = ("source", "lang"),
                        mix_default: float = 0.0,
                        mix_salt: str = "mix1",
                        **gopher_thresholds) -> DataFrame:
    """Continuous corpus cleaning — the streaming peer of
    ``operators.corpus.clean_corpus`` for an always-ingesting crawl:
    the stateless body (Gopher gate + language guess + fingerprint,
    one codegen pass via the SHARED ``gated_docs``) runs per
    micro-batch, and the exact content dedup becomes
    ``applyInPandasWithState`` keyed on a content-hash shard — a
    document admitted in batch 3 suppresses its duplicate in batch
    300, surviving restarts through the state store (same shape as
    ``stream_unseen``'s exact mode).

    Within a micro-batch the smallest ``doc_id`` wins — the Arrow
    chunks of the shard's slice are concatenated before the scan, so
    the rule holds batch-wide (a duplicate split across chunks cannot
    keep the larger id), matching the batch operator's survivor rule;
    across batches, arrival order wins (an id admitted in an earlier
    batch suppresses any later duplicate regardless of id — the only
    possible rule under streaming ingestion).  State per shard is the
    8-byte content
    fingerprint set (corpus/num_shards keys); for 10^10-document
    state swap in the cuckoo-blob variant exactly as the seen gate
    does.  Because the Gopher gate sits BEFORE the stateful exchange,
    only surviving documents shuffle — identical to the batch plan's
    gate-below-the-Exchange shape.

    ``benchmark_grams`` (a ``dedup.bench_gram_list`` result) enables
    the streaming peer of the batch pipeline's decontamination stage:
    the per-row ``arrays_overlap`` check against the literal gram
    array is stateless codegen, so it gates BEFORE the stateful
    exchange with no join state and no extra shuffle — the exact
    property that makes decontamination stream-composable at all.

    ``mix_rates`` composes the data-mixing stage
    (``corpus.mix_sample``) the same way: the md5-threshold predicate
    is RNG-free per-row codegen — no state, no shuffle, identical
    keep/drop verdict for a document whether it arrives in batch 1 or
    batch 1000 — so the mixture table holds continuously over an
    always-ingesting crawl.  It sits first (cheapest gate, prunes the
    most), then decontamination, then the Gopher gate, then the one
    stateful dedup exchange.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.corpus import gated_docs, mix_sample

    if mix_rates is not None:
        docs_stream = mix_sample(docs_stream, mix_rates,
                                 group_cols=mix_group_cols,
                                 default_rate=mix_default,
                                 salt=mix_salt)
    if benchmark_grams is not None:
        from ..operators.dedup import contaminated_flag_col

        docs_stream = docs_stream.filter(
            ~contaminated_flag_col(F.col("text"), benchmark_grams,
                                   n=contamination_ngram)
        )
    base = gated_docs(docs_stream, lang_threshold=lang_threshold,
                      **gopher_thresholds)
    # 64-bit content fingerprint from the md5 the gate already
    # computed (same 60-bit-prefix construction as token_hash)
    keyed = base.select(
        "doc_id", "guessed_lang", "token_cnt", "fingerprint",
        F.conv(F.substring("_md5", 1, 15), 16, 10).cast("long")
        .alias("_cfp"),
    )

    return (
        keyed
        .withColumn("_shard", F.pmod(F.col("_cfp"), F.lit(num_shards)))
        .groupBy("_shard")
        .applyInPandasWithState(
            # min doc_id wins within a micro-batch
            _probe_state(_FingerprintSet, _FingerprintSet, _insert_many,
                         _FingerprintSet.to_state,
                         ["doc_id", "guessed_lang", "token_cnt",
                          "fingerprint"], key="_cfp", order="doc_id"),
            outputStructType=CLEAN_CORPUS_OUTPUT_SCHEMA,
            stateStructType=CLEAN_CORPUS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_host_stats(pages_stream: DataFrame,
                      window: str = "1 minute",
                      watermark: str = "10 minutes") -> DataFrame:
    """Watermarked per-host page counts + bytes over event time."""
    # no trailing slash (pathless URLs keep their host) and
    # case-insensitive scheme — consistent with the frontier's host
    # derivation in frontier/fingerprint.py
    host = F.regexp_extract(F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)
    return (
        pages_stream
        .withColumn("url_host", host)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "url_host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.octet_length("html")).alias("bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "url_host", "n_pages", "bytes",
        )
    )


def read_warc_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming WARC ingestion: each ``*.warc`` text file landing in
    the watched directory is one (decompressed) WARC member, read
    whole (``wholetext``) and exploded into records by the same
    JVM-side parser the batch path uses
    (:func:`hepcrawl_spark.sources.warc.parse_warc_records`) — the
    continuous counterpart of the batch WARC scan, so a live crawl
    dump drains into the extraction/cleaning pipelines as it arrives.

    The parse is a stateless per-row projection, legal in any
    micro-batch position; downstream the records join the same
    ``stream_extract``/``stream_clean_corpus`` surfaces as parquet
    pages.  At scale the natural trigger unit is the member file
    (Common Crawl ships ~1 GB members), so ``maxFilesPerTrigger``
    bounds per-batch bytes.
    """
    from ..sources.warc import parse_warc_records

    members = (
        spark.readStream
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path, wholetext=True)
        .withColumnRenamed("value", "warc")
    )
    return parse_warc_records(members)
