"""Traced replay of a crawl, layer by layer.

``run_crawl`` is lazy: most of a layer's Spark work runs inside later
actions, so timing around ``run_crawl`` cannot split it by layer.  The
replay below steps through the same public layer calls in
``run_crawl``'s order and materializes each call's output inside its
own span.  Spans nest run -> round -> layer; every span of a round
carries that round's number as its shared identifier.  They are kept
in memory and written out when the run ends.

Spark jobs are attributed to spans through a thread-local Spark
property (``perfbench.span``) that the event log records on every job
start; ``parse_event_log`` turns the log into per-span job counts, task
seconds and shuffle bytes.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional

from pyspark.sql import functions as F

from hepcrawl_spark.extract import conform_record, extract_records
from hepcrawl_spark.extractors import get_extractor_entry
from hepcrawl_spark.frontier.cuckoo import CuckooShard
from hepcrawl_spark.frontier.fingerprint import with_url_identity
from hepcrawl_spark.frontier.politeness import schedule
from hepcrawl_spark.frontier.robots import effective_politeness, robots_filter
from hepcrawl_spark.frontier.rounds import (
    _CAND_COLS, CrawlConfig, _expand_children, _merge_offsets, make_seeds,
    run_crawl,
)
from hepcrawl_spark.frontier.seen import filter_unseen, shard_of_host
from hepcrawl_spark.frontier.urlfilter import url_filter
from hepcrawl_spark.schema import POLITENESS_SCHEMA
from gen import FORMAT
from store import dir_usage

SPAN_PROPERTY = "perfbench.span"

LAYERS = (
    "session", "frontier.fingerprint", "frontier.urlfilter", "frontier.robots",
    "frontier.seen", "frontier.politeness", "frontier.rounds.fetch", "extract",
    "frontier.rounds.expand", "frontier.checkpoint", "frontier.rounds",
)
BASE = {"busy_s": "s", "rows_in": "count", "rows_out": "count", "jobs": "count",
        "task_s": "s", "shuffle_bytes": "bytes"}
EXTRAS = {
    "frontier.urlfilter": {"dropped": "count"},
    "frontier.robots": {"dropped": "count"},
    "frontier.seen": {"admit_ratio": "ratio", "max_shard_load": "ratio",
                      "overflow": "count", "state_bytes": "bytes",
                      "shard_skew": "ratio", "missed": "count"},
    "frontier.politeness": {"deferred_ratio": "ratio", "horizon_lost": "count"},
    "frontier.rounds.fetch": {"miss_ratio": "ratio"},
    "extract": {"extractor_us_per_page": "us", "conform_us_per_record": "us",
                "error_ratio": "ratio"},
    "frontier.rounds.expand": {"children_per_record": "ratio"},
    "frontier.checkpoint": {"bytes_written": "bytes", "files_written": "count"},
    "frontier.rounds": {"jobs_per_round": "count", "self_s": "s",
                        "cover_share": "ratio"},
}
# whole-run values of a traced run: the replay's wall time over the
# untraced crawl's, and the untraced crawl's peak process-tree RSS (it
# does not repeat within a tenth from run to run, so it has no bound)
RUN = {"trace.overhead": "ratio", "run.peak_rss_mb": "MB"}

# which end-to-end metric a faster layer should move, on which
# workload, and where the prediction is no change
LAYER_TABLE = {
    "session": {"moves": "setup_s, all", "none_on": []},
    "frontier.fingerprint": {"moves": "urls_per_s on frontier-skew", "none_on": ["extract-bulk"]},
    "frontier.urlfilter": {"moves": "urls_per_s on crawl-deep", "none_on": ["extract-bulk"]},
    "frontier.robots": {"moves": "urls_per_s on crawl-deep", "none_on": ["extract-bulk"]},
    "frontier.seen": {"moves": "urls_per_s on frontier-skew; round_s_p50, "
                      "store_bytes_per_page on crawl-deep", "none_on": ["extract-bulk"]},
    "frontier.politeness": {"moves": "urls_per_s on frontier-skew", "none_on": ["extract-bulk"]},
    "frontier.rounds.fetch": {"moves": "pages_per_s on extract-bulk (crawl-deep when "
                              "extract-bulk is not run)", "none_on": ["frontier-skew"]},
    "extract": {"moves": "pages_per_s, cpu_s_per_1k_pages on extract-bulk (crawl-deep "
                "when extract-bulk is not run)", "none_on": ["frontier-skew"]},
    "frontier.rounds.expand": {"moves": "round_s_p50 on crawl-deep",
                               "none_on": ["extract-bulk", "frontier-skew"]},
    "frontier.checkpoint": {"moves": "round_s_p50, store_bytes_per_page on crawl-deep",
                            "none_on": []},
    "frontier.rounds": {"moves": "round_s_p50 on crawl-deep", "none_on": []},
}


def metric_names() -> Dict[str, str]:
    """Every per-layer metric name -> unit, in a stable order."""
    out = {}
    for layer in LAYERS:
        for key, unit in {**BASE, **EXTRAS.get(layer, {})}.items():
            out[f"{layer}.{key}"] = unit
    out.update(RUN)
    return out


class Tracer:
    """In-memory spans; each open span tags the Spark jobs it starts."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: List[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: Optional[int] = None,
             round_no: Optional[int] = None):
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "round": round_no, "start": time.perf_counter()}
        outer = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty(SPAN_PROPERTY, outer)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


def replay(tracer: Tracer, run_id: int, seeds_raw, pages, politeness,
           robots, config: CrawlConfig, store, reachable: set) -> int:
    """Step the crawl through its layers; counts land on the spans.
    Returns how many reachable URLs the seen gate never admitted."""
    politeness = effective_politeness(politeness, robots)
    queue = None
    seen_state = offsets = None
    admitted_urls: set = set()
    round_no = 0
    while round_no < config.max_rounds:
        with tracer.span("frontier.rounds", run_id, round_no) as rs:
            rid = rs["id"]

            def layer(name):
                return tracer.span(name, rid, round_no)

            if queue is None:
                with layer("frontier.fingerprint") as s:
                    queue = with_url_identity(seeds_raw).select(*_CAND_COLS).persist()
                    s["rows_in"] = s["rows_out"] = queue.count()
            q = queue.agg(F.count(F.lit(1)).alias("n"), F.min("seq").alias("lo"),
                          F.max("seq").alias("hi")).first()
            rs["rows_in"] = q.n
            if q.n == 0:
                rs["empty"] = True
                break

            gated, verdict = queue, None
            if config.blocked_domains or config.blocked_extensions:
                with layer("frontier.urlfilter") as s:
                    verdict = url_filter(
                        queue, blocked_domains=list(config.blocked_domains),
                        blocked_extensions=list(config.blocked_extensions),
                        allowed_schemes=config.allowed_schemes,
                    ).persist()
                    kept = verdict.agg(F.sum(F.col("keep").cast("long"))).first()[0] or 0
                    gated = verdict.filter(F.col("keep")).drop(
                        "scheme_ok", "domain_blocked", "ext_blocked", "keep")
                    s.update(rows_in=q.n, rows_out=kept, dropped=q.n - kept)

            with layer("frontier.robots") as s:
                allowed, blocked = robots_filter(gated, robots)
                allowed = allowed.persist()
                n_allowed = allowed.count()
                n_gated = gated.count()
                s.update(rows_in=n_gated, rows_out=n_allowed, dropped=n_gated - n_allowed)

            with layer("trace.probe"):
                shard_rows = [r[1] for r in allowed.groupBy(
                    shard_of_host(F.col("url_host"), config.num_shards)).count().collect()]
                skew = max(shard_rows) * len(shard_rows) / sum(shard_rows) if shard_rows else 0.0

            with layer("frontier.seen") as s:
                admitted, seen_state = filter_unseen(
                    allowed, seen_state, mode=config.seen_mode,
                    num_shards=config.num_shards)
                admitted = admitted.persist()
                n_admitted = admitted.count()
                blobs = []
                if seen_state is not None and config.seen_mode == "cuckoo":
                    blobs = [bytes(r.blob) for r in seen_state.select("blob").collect()]
                s.update(rows_in=n_allowed, rows_out=n_admitted, shard_skew=skew)
                shards = [CuckooShard.from_bytes(b) for b in blobs]
                s["shard_load"] = max(
                    (sh.count / (sh.n_buckets * 4) for sh in shards), default=0.0)
                s["overflow"] = sum(sh.overflow for sh in shards)
                s["state_bytes"] = sum(len(b) for b in blobs)

            with layer("trace.probe"):
                admitted_urls.update(r.url for r in admitted.select("url").collect())

            with layer("frontier.politeness") as s:
                scheduled, deferred, new_offsets = schedule(
                    admitted, politeness, offsets, round_start=0.0,
                    horizon=config.horizon, seq_bounds=(int(q.lo), int(q.hi)))
                scheduled = scheduled.persist()
                deferred = deferred.persist()
                offsets = _merge_offsets(offsets, new_offsets).persist()
                n_sched, n_def = scheduled.count(), deferred.count()
                offsets.count()
                s.update(rows_in=n_admitted, rows_out=n_sched, deferred=n_def)

            with layer("frontier.rounds.fetch") as s:
                fetched = scheduled.join(
                    pages.select("url", "html"), on="url", how="left").persist()
                f = fetched.agg(F.count(F.lit(1)).alias("n"),
                                F.sum(F.col("html").isNull().cast("long")).alias("miss")).first()
                n_miss = int(f.miss or 0)
                s.update(rows_in=n_sched, rows_out=f.n - n_miss, miss=n_miss)

            with layer("extract") as s:
                extracted = extract_records(
                    fetched.filter(F.col("html").isNotNull()).select("url", "html", "format")
                ).persist()
                e = extracted.agg(F.count(F.lit(1)).alias("n"),
                                  F.sum(F.col("error").isNotNull().cast("long")).alias("err")).first()
                n_err = int(e.err or 0)
                s.update(rows_in=f.n - n_miss, rows_out=e.n - n_err, errors=n_err)
            records = extracted.filter(F.col("error").isNull())

            with layer("frontier.rounds.expand") as s:
                children = _expand_children(
                    records, scheduled, seq_base=(round_no + 1) * config.seq_block,
                    max_depth=config.max_depth, format_routes=config.child_format_routes)
                raw = children.select(
                    "url", "priority", "depth", "seq", "source", "format").persist()
                n_children = raw.count()
                s.update(rows_in=e.n - n_err, rows_out=n_children)

            with layer("frontier.fingerprint") as s:
                kids = with_url_identity(raw).select(*_CAND_COLS).persist()
                s["rows_in"] = s["rows_out"] = kids.count()
            next_queue = deferred.select(_CAND_COLS).unionByName(kids)

            with layer("frontier.checkpoint") as s:
                errors = extracted.filter(F.col("error").isNotNull()).select(
                    "url", "error").unionByName(
                    fetched.filter(F.col("html").isNull()).select(
                        "url", F.lit("FetchMiss: url not in corpus").alias("error")))
                lineage = (
                    extracted.withColumn("_pid", F.spark_partition_id())
                    .groupBy("_pid").agg(
                        F.count(F.lit(1)).alias("input_rows"),
                        F.sum(F.col("error").isNull().cast("long")).alias("emitted_rows"),
                        F.sum(F.col("error").isNotNull().cast("long")).alias("error_rows"),
                        F.collect_list("error").alias("errors"))
                    .select(F.lit(round_no).alias("round"),
                            F.col("_pid").alias("partition_id"),
                            "input_rows", "emitted_rows", "error_rows", "errors"))
                tables = {"queue": next_queue, "offsets": offsets,
                          "records": records.drop("new_urls"),
                          "lineage": lineage, "errors": errors}
                if seen_state is not None and config.seen_mode != "off":
                    tables["seen"] = seen_state
                store.commit_round(round_no, tables, meta={
                    "scheduled": n_sched, "records": e.n - n_err,
                    "errors": n_err + n_miss})
                nbytes, nfiles = dir_usage(store.round_dir(round_no))
                s.update(rows_in=n_def + n_children + e.n + n_miss,
                         rows_out=n_def + n_children + e.n + n_miss,
                         bytes_written=nbytes, files_written=nfiles)

            for df in (queue, allowed, admitted, scheduled, deferred, fetched,
                       extracted, raw, kids, offsets):
                df.unpersist()
            if getattr(children, "_expand_cache", None) is not None:
                children._expand_cache.unpersist()
            if verdict is not None:
                verdict.unpersist()
            queue = store.read_table(round_no, "queue")
            offsets = store.read_table(round_no, "offsets")
            if config.seen_mode != "off":
                seen_state = store.read_table(round_no, "seen")
            rs["rows_out"] = n_def + n_children
        round_no += 1
    return len(reachable - admitted_urls)


def parse_event_log(log_dir: str) -> Dict[str, Dict[str, float]]:
    """span id -> {jobs, task_s, shuffle_bytes} from a Spark event log."""
    # Spark writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1]))
    out: Dict[str, Dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0})
    stage_span: Dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if span is None:
                        continue
                    out[span]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, span)
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if span is None or not metrics:
                        continue
                    out[span]["task_s"] += metrics.get("Executor Run Time", 0) / 1000.0
                    out[span]["shuffle_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    return dict(out)


def microtime_extraction(pages_rows, n: int = 200):
    """(extractor us per page, conform us per record) over ``n`` pages,
    split the way the extraction UDF spends its Python time."""
    fn, url_aware = get_extractor_entry(FORMAT)
    t_ext = t_conf = 0.0
    n_pages = n_recs = 0
    for url, html in pages_rows[:n]:
        t0 = time.perf_counter()
        recs = fn(html, url) if url_aware else fn(html)
        t1 = time.perf_counter()
        for rec in recs:
            conform_record(rec)
        t2 = time.perf_counter()
        t_ext += t1 - t0
        t_conf += t2 - t1
        n_pages += 1
        n_recs += len(recs)
    return 1e6 * t_ext / max(1, n_pages), 1e6 * t_conf / max(1, n_recs)


def horizon_probe(spark, seen_mode: str) -> int:
    """URLs never scheduled when a horizon defers part of one host.

    12 URLs on one host, delay 10 s, concurrency 2, horizon 25 s: the
    first round schedules 6 and defers 6.  The deferred six should be
    scheduled in a later round; the count returned is how many never
    were."""
    urls = [f"http://probe.example.org/p/{i}.html" for i in range(12)]
    pages = spark.createDataFrame(
        [(u, f"<html><title>p{i}</title></html>".encode()) for i, u in enumerate(urls)],
        "url string, html binary")
    politeness = spark.createDataFrame(
        [("probe.example.org", 10.0, 2)], POLITENESS_SCHEMA)
    totals = run_crawl(
        spark, make_seeds(spark, [(u, "html-generic", 0) for u in urls]), pages,
        politeness=politeness,
        config=CrawlConfig(seen_mode=seen_mode, horizon=25.0, max_rounds=3))
    return len(urls) - totals["scheduled"]


def layer_metrics(tracer: Tracer, jobs: Dict[str, Dict[str, float]],
                  session_s: float, extract_us, horizon_lost: int,
                  run_values: Dict[str, float]) -> Dict[str, float]:
    """Fold the spans into the per-layer metrics of ``metric_names``."""
    acc = {layer: defaultdict(float) for layer in LAYERS}
    acc["session"]["busy_s"] = session_s
    children = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    rounds = 0
    for s in tracer.spans:
        name = s["name"]
        if name == "run":
            acc["frontier.seen"]["missed"] = s["missed"]
            continue
        if name not in acc:
            continue
        a = acc[name]
        busy = s["end"] - s["start"]
        ids = [s["id"]]
        if name == "frontier.rounds":
            rounds += not s.get("empty")
            layers = [c for c in children[s["id"]] if c["name"] in acc]
            ids += [c["id"] for c in layers]
            a["covered_s"] += sum(c["end"] - c["start"] for c in layers)
            # the trace's own probes are overhead, not round time
            busy -= sum(c["end"] - c["start"] for c in children[s["id"]]
                        if c["name"] == "trace.probe")
        a["busy_s"] += busy
        a["rows_in"] += s.get("rows_in", 0)
        a["rows_out"] += s.get("rows_out", 0)
        for sid in ids:
            j = jobs.get(str(sid))
            if j:
                a["jobs"] += j["jobs"]
                a["task_s"] += j["task_s"]
                a["shuffle_bytes"] += j["shuffle_bytes"]
        for key in ("dropped", "deferred", "miss", "errors", "bytes_written",
                    "files_written"):
            a[key] += s.get(key, 0)
        if name == "frontier.seen":
            a["max_shard_load"] = max(a["max_shard_load"], s.get("shard_load", 0.0))
            a["shard_skew"] = max(a["shard_skew"], s.get("shard_skew", 0.0))
            # only the last round's state is what the filter holds now
            a["overflow"] = s.get("overflow", 0)
            a["state_bytes"] = s.get("state_bytes", 0)

    def ratio(x, y):
        return x / y if y else 0.0

    seen, pol = acc["frontier.seen"], acc["frontier.politeness"]
    seen["admit_ratio"] = ratio(seen["rows_out"], seen["rows_in"])
    pol["deferred_ratio"] = ratio(pol["deferred"], pol["rows_in"])
    pol["horizon_lost"] = horizon_lost
    fetch = acc["frontier.rounds.fetch"]
    fetch["miss_ratio"] = ratio(fetch["miss"], fetch["rows_in"])
    ext = acc["extract"]
    ext["extractor_us_per_page"], ext["conform_us_per_record"] = extract_us
    ext["error_ratio"] = ratio(ext["errors"], ext["rows_in"])
    exp = acc["frontier.rounds.expand"]
    exp["children_per_record"] = ratio(exp["rows_out"], exp["rows_in"])
    rnd = acc["frontier.rounds"]
    rnd["jobs_per_round"] = ratio(rnd["jobs"], rounds)
    rnd["self_s"] = rnd["busy_s"] - rnd["covered_s"]
    rnd["cover_share"] = ratio(rnd["covered_s"], rnd["busy_s"])

    out = {}
    for name in metric_names():
        if name in RUN:
            out[name] = float(run_values[name])
            continue
        layer, key = name.rsplit(".", 1)
        out[name] = float(acc[layer][key])
    return out
