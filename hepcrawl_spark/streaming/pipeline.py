"""Streaming extraction pipeline.

``stream_extract`` turns the batch extraction into a continuous one:
``readStream`` over a pages directory (new parquet files = newly
fetched WARC batches), the same Arrow extraction UDF, and a
``foreachBatch`` sink that reuses the batch writers — so batch and
streaming share one code path (the round engine's per-round body *is*
the batch function).

``stream_host_stats`` is the watermarked per-host fetch-metrics
aggregation (1-minute tumbling windows over ``warc_ts``, 10-minute
late-data watermark) — the streaming analog of the lineage/metrics
table (SURVEY.md §2.3 F8).
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..extract import extract_records
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
    surviving restarts through the state store checkpoint.  Within a
    batch, first occurrence wins by ``seq`` within a chunk.

    ``mode="exact"`` keeps the shard's fingerprint set (8 bytes/key —
    fine to ~10^8 frontier).  ``mode="cuckoo"`` keeps the same
    serialized cuckoo shard the batch gate uses (6 bytes per occupied
    slot, at most the dense ~2 bytes/slot array — see cuckoo.py): the
    10^10 path, at the filter's false-positive cost.
    State volume per task is |frontier| / num_shards either way, and
    the only shuffle is the one groupBy.

    ``carry_cols`` widens the output beyond the default (url,
    fingerprint, seq) with further input columns passed through
    unchanged — the full-candidate form ``stream_crawl_round`` feeds
    its round body with.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..frontier.cuckoo import CuckooShard

    out_cols = ["url", "fingerprint", "seq"] + [
        c for c in (carry_cols or [])
        if c not in ("url", "fingerprint", "seq")
    ]
    in_fields = {f.name: f for f in cand_stream.schema.fields}
    out_struct = StructType([in_fields[c] for c in out_cols])

    def _dedup_exact(key: Tuple, pdfs: Iterator[pd.DataFrame], state):
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            pdf = pdf.sort_values("seq")  # min-seq wins within a chunk
            keep = []
            for fp in pdf["fingerprint"]:
                fp = int(fp)
                if fp in seen:
                    keep.append(False)
                else:
                    seen.add(fp)
                    keep.append(True)
            out = pdf[keep][out_cols]
            if len(out):
                yield out
        state.update((list(seen),))

    def _dedup_cuckoo(key: Tuple, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            shard = CuckooShard.from_bytes(bytes(state.get[0]))
        else:
            shard = CuckooShard(n_buckets=shard_buckets)
        for pdf in pdfs:
            pdf = pdf.sort_values("seq")
            keep = []
            for fp in pdf["fingerprint"]:
                h = int(fp)  # raw signed, same as the batch gate
                if shard.contains(h):
                    keep.append(False)
                else:
                    shard.insert(h)
                    keep.append(True)
            out = pdf[keep][out_cols]
            if len(out):
                yield out
        state.update((shard.to_bytes(),))

    fn, schema = {
        "exact": (_dedup_exact, UNSEEN_STATE_SCHEMA),
        "cuckoo": (_dedup_cuckoo, UNSEEN_CUCKOO_STATE_SCHEMA),
    }[mode]

    if "url_host" in cand_stream.columns:
        from ..frontier.seen import shard_of_host
        shard = shard_of_host(F.col("url_host"), num_shards)
    else:
        shard = F.pmod(F.col("fingerprint"), F.lit(num_shards))
    return (
        cand_stream
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandasWithState(
            fn,
            outputStructType=out_struct,
            stateStructType=schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


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
    import glob
    import os

    from ..frontier.fingerprint import with_url_identity
    from ..frontier.politeness import schedule
    from ..frontier.rounds import _merge_offsets

    def batch_fn(df: DataFrame, epoch: int) -> None:
        spark = df.sparkSession
        if "url_host" not in df.columns:
            df = with_url_identity(df)
        prior = sorted(glob.glob(os.path.join(offsets_path, "epoch-*")))
        prior = [p for p in prior
                 if int(p.rsplit("-", 1)[1]) < int(epoch)]
        offsets = spark.read.parquet(prior[-1]) if prior else None
        scheduled, _deferred, new_offsets = schedule(
            df, politeness, offsets
        )
        (
            scheduled.withColumn("epoch", F.lit(int(epoch)))
            .write.mode("overwrite")
            .parquet(os.path.join(output_path, f"epoch-{int(epoch):09d}"))
        )
        _merge_offsets(offsets, new_offsets).write.mode("overwrite").parquet(
            os.path.join(offsets_path, f"epoch-{int(epoch):09d}")
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
                       pages: DataFrame, work_dir: str,
                       politeness: Optional[DataFrame] = None,
                       robots: Optional[DataFrame] = None,
                       num_shards: int = 8, seen_mode: str = "exact",
                       max_depth: int = 4, seq_block: int = 1 << 40,
                       child_format_routes: Optional[dict] = None,
                       max_files_per_trigger: int = 64,
                       available_now: bool = True,
                       blocked_domains: tuple = (),
                       blocked_extensions: tuple = (),
                       allowed_schemes: tuple = ("http", "https"),
                       host_priorities: Optional[DataFrame] = None,
                       content_seen: bool = False):
    """The FULL streaming crawl engine — every stage of the batch
    round body (``frontier.rounds.run_crawl``) composed into one
    continuous query, closing the frontier loop through the watched
    directory:

        frontier files → URL-seen gate (``stream_unseen``,
        GroupState) → foreachBatch round body [robots gate →
        politeness ``schedule`` with the carried offset ledger →
        fetch join against the pages corpus → extraction →
        ``_expand_children``] → child candidates written BACK into
        ``frontier_path`` → picked up as the next micro-batch.

    One implementation, two engines: the body calls the SAME
    ``schedule`` / ``extract_records`` / ``_expand_children`` the
    batch loop calls, so per-host spacing, LIFO ordering, depth caps
    and child format routing are definitionally identical.  The
    URL-seen state lives in the state-store checkpoint and the
    per-host offsets in an epoch-versioned parquet ledger, so BOTH
    survive a full stop/start: a crawl resumed tomorrow still refuses
    yesterday's URLs and still spaces yesterday's hosts.  Robots sits
    inside the body (after the gate): with a static robots table the
    admitted-then-blocked order changes no outcome — a blocked URL is
    blocked in every batch — and it keeps the stream side to the one
    stateful exchange.

    Epoch-versioned writes make retried micro-batches idempotent:
    records land in ``work_dir/records/epoch-N`` (overwrite), child
    files as ``frontier_path/children-N-*.parquet`` (fixed names per
    epoch — the file source processes each path once, so a retry
    cannot double-enqueue).  ``availableNow`` processes the files
    present at start then stops; children written during the run form
    the NEXT trigger's input — use :func:`drive_stream_crawl` for the
    restart loop that drains the frontier to empty (each run is one
    batch "round"; the state store carries everything across runs).

    Storage restriction: the child loop-back publishes files with
    driver-local ``glob()`` + ``os.replace()``, so ``frontier_path``
    and ``work_dir`` must live on the SAME local POSIX filesystem
    (local disk / NFS mount) — not HDFS or S3, and not two different
    mounts (``os.replace`` across devices raises ``EXDEV``).  On a
    cluster, point both at a shared mount, or swap the rename for the
    Hadoop FileSystem API (``spark._jvm.org.apache.hadoop.fs``) —
    the per-epoch fixed-name idempotency contract is unchanged.
    """
    import glob
    import os

    from ..frontier.politeness import schedule
    from ..frontier.robots import effective_politeness, robots_filter
    from ..frontier.rounds import _expand_children, _merge_offsets
    from ..frontier.seen import CANDIDATE_SCHEMA
    from ..frontier.urlfilter import url_filter

    cand_cols = CANDIDATE_SCHEMA.fieldNames()
    offsets_path = os.path.join(work_dir, "offsets")
    records_path = os.path.join(work_dir, "records")
    content_path = os.path.join(work_dir, "content")
    pol = effective_politeness(politeness, robots)
    pages_slim = pages.select("url", "html")

    cand = (
        spark.readStream
        .schema(CANDIDATE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(frontier_path)
    )
    admitted = stream_unseen(cand, num_shards=num_shards,
                             mode=seen_mode, carry_cols=cand_cols)

    def round_body(df: DataFrame, epoch: int) -> None:
        epoch = int(epoch)
        if blocked_domains or blocked_extensions:
            # same queue-entry URL blocklist as the batch round
            # (CrawlConfig.blocked_domains) — a stateless per-row
            # literal gate, so its verdict is identical in any
            # micro-batch position, like the decontamination gate
            df = url_filter(
                df,
                blocked_domains=list(blocked_domains),
                blocked_extensions=list(blocked_extensions),
                allowed_schemes=allowed_schemes,
            ).filter(F.col("keep")).drop(
                "scheme_ok", "domain_blocked", "ext_blocked", "keep"
            )
        allowed, _blocked = robots_filter(df, robots)
        prior = sorted(glob.glob(os.path.join(offsets_path, "epoch-*")))
        prior = [p for p in prior if int(p.rsplit("-", 1)[1]) < epoch]
        offsets = spark.read.parquet(prior[-1]) if prior else None
        # host-authority boost: like the blocklist, a per-row verdict
        # against a static dimension — identical in any micro-batch
        scheduled, _deferred, new_offsets = schedule(
            allowed, pol, offsets, round_start=0.0, horizon=None,
            host_priorities=host_priorities,
        )
        scheduled = scheduled.persist()
        (
            scheduled.withColumn("epoch", F.lit(epoch))
            .write.mode("overwrite")
            .parquet(os.path.join(work_dir, "scheduled",
                                  f"epoch-{epoch:09d}"))
        )
        fetched = scheduled.join(pages_slim, on="url", how="left")
        if content_seen:
            # Mercator content-seen, streaming form: the checksum
            # ledger is epoch-versioned parquet exactly like the
            # offsets ledger (retried epochs idempotently rebuild
            # from epoch-1's basis); within-batch first owner by the
            # schedule's real fetch-order keys, like the batch loop
            from ..frontier.fingerprint import content_seen_flag

            cprior = sorted(glob.glob(
                os.path.join(content_path, "epoch-*")))
            cprior = [p for p in cprior
                      if int(p.rsplit("-", 1)[1]) < epoch]
            prior_fps = (spark.read.parquet(cprior[-1])
                         if cprior else None)
            fetched = content_seen_flag(fetched, order_col=[
                F.col("fetch_ts"),
                F.col("eff_priority").desc(),
                F.col("seq").desc(),
            ])
            if prior_fps is not None:
                fetched = fetched.join(
                    prior_fps.select("content_fp").withColumn(
                        "_seen_before", F.lit(True)),
                    on="content_fp", how="left",
                ).withColumn(
                    "content_dup",
                    F.col("content_dup")
                    | F.coalesce("_seen_before", F.lit(False)),
                ).drop("_seen_before")
            fetched = fetched.persist()
            batch_fps = fetched.filter(
                F.col("html").isNotNull()
            ).select("content_fp").distinct()
            new_fps = (batch_fps if prior_fps is None
                       else prior_fps.unionByName(batch_fps).distinct())
            new_fps.write.mode("overwrite").parquet(
                os.path.join(content_path, f"epoch-{epoch:09d}")
            )
        extract_src = fetched.filter(F.col("html").isNotNull())
        if content_seen:
            extract_src = extract_src.filter(~F.col("content_dup"))
        extracted = extract_records(
            extract_src.select("url", "html", "format")
        ).persist()
        records = extracted.filter(F.col("error").isNull())
        (
            records.drop("new_urls").withColumn("epoch", F.lit(epoch))
            .write.mode("overwrite")
            .parquet(os.path.join(records_path, f"epoch-{epoch:09d}"))
        )
        _merge_offsets(offsets, new_offsets).write.mode(
            "overwrite"
        ).parquet(os.path.join(offsets_path, f"epoch-{epoch:09d}"))

        expanded = _expand_children(
            records, scheduled,
            seq_base=(epoch + 1) * seq_block,
            max_depth=max_depth,
            format_routes=child_format_routes or {},
        )
        children = expanded.select(cand_cols)
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
            scratch = os.path.join(work_dir, f"children-{epoch:09d}")
            children.write.mode("overwrite").parquet(scratch)
            parts = sorted(
                glob.glob(os.path.join(scratch, "part-*.parquet"))
            )
            for i, p in enumerate(parts):
                os.replace(p, os.path.join(
                    frontier_path,
                    f"children-{epoch:09d}-{i:05d}.parquet"
                ))
        expand_cache = getattr(expanded, "_expand_cache", None)
        if expand_cache is not None:
            expand_cache.unpersist()
        extracted.unpersist()
        if content_seen:
            fetched.unpersist()
        scheduled.unpersist()

    writer = (
        admitted.writeStream
        .foreachBatch(round_body)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drive_stream_crawl(spark: SparkSession, frontier_path: str,
                       pages: DataFrame, work_dir: str,
                       max_rounds: int = 16,
                       round_timeout: float = 600.0,
                       **kwargs) -> dict:
    """Drain loop for :func:`stream_crawl_round`: ``availableNow``
    processes the frontier files present at START, so children written
    during a run form the NEXT run's input — this helper owns the
    restart loop, re-running the query until a round publishes no new
    frontier files (the crawl has drained) or ``max_rounds`` is hit.

    Drain detection is the file-source's own contract: each round
    snapshots the watched directory before starting; a round that adds
    nothing processed only already-seen-or-empty input, and — because
    every child file published by round N is consumed by round N+1 —
    an unchanged directory means nothing is left to process.  State
    (URL-seen GroupState, offsets ledger) carries across the restarts
    exactly as across any stop/start.

    Returns ``{"rounds": n, "drained": bool, "records_path": …}``;
    ``drained`` False means max_rounds stopped the loop first (raise
    ``max_depth`` awareness: a depth-capped crawl drains naturally in
    ``max_depth + 1`` rounds + one empty confirming round).
    """
    import glob
    import os

    rounds, drained = 0, False
    while rounds < max_rounds:
        before = set(glob.glob(os.path.join(frontier_path, "*.parquet")))
        q = stream_crawl_round(spark, frontier_path, pages, work_dir,
                               available_now=True, **kwargs)
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

    def _dedup(key: Tuple, pdfs: Iterator[pd.DataFrame], state):
        seen = set(state.get[0]) if state.exists else set()
        # concatenate the shard's Arrow chunks so min-doc_id wins
        # across the WHOLE micro-batch, not per chunk (one shard's
        # batch slice is ~batch/num_shards rows — bounded)
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) \
                if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values("doc_id")  # min doc_id wins
            keep = []
            for cfp in pdf["_cfp"]:
                cfp = int(cfp)
                if cfp in seen:
                    keep.append(False)
                else:
                    seen.add(cfp)
                    keep.append(True)
            out = pdf[keep][["doc_id", "guessed_lang", "token_cnt",
                             "fingerprint"]]
            if len(out):
                yield out
        state.update((list(seen),))

    return (
        keyed
        .withColumn("_shard", F.pmod(F.col("_cfp"), F.lit(num_shards)))
        .groupBy("_shard")
        .applyInPandasWithState(
            _dedup,
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
