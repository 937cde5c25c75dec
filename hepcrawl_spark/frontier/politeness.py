"""Per-host politeness scheduler (F2/F3) with explicit skew handling (F4).

Deterministic serial schedule contract (the reference parity contract,
BASELINE.md "Crawl-semantics parity"):

- per host, requests are ordered by (priority DESC, seq DESC) — Scrapy
  scheduler semantics: priority queues, LIFO within equal priority (all
  reference requests use priority 0, so reference order = LIFO);
- the r-th request (1-based) of host h is fetched at
  ``fetch_ts = base_h + floor((r-1) / c_h) * delay_h`` where ``base_h``
  = max(carried host offset, round start), ``c_h`` = per-host
  concurrency, ``delay_h`` = per-host download delay (reference budget:
  delay 5-10 s, concurrency 2-5 — base_spider.py:63-65,
  edp_spider.py:89-90, settings.py:35);
- global fetch order = (fetch_ts ASC, priority DESC, seq DESC).

Scale design: the per-host rank is NOT a naive window over
``partitionBy(host)`` — one mega-host (arxiv.org) would serialize into
a single task.  Instead a two-phase exact rank: rows are bucketed by
global ``seq`` ranges, ranked *within* (host, priority, bucket)
partitions — which splits a mega-host across many tasks — and local
ranks are re-based with per-(host, priority, bucket) counts cumulated
over the tiny group-count table and broadcast-joined back.  Exact, and
the widest shuffle key is (host, priority, bucket).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# reference global default concurrency (settings.py:35); delay defaults to 0
DEFAULT_MAX_PER_HOST = 16
DEFAULT_DELAY = 0.0

RANK_BUCKETS = 256  # seq-range buckets a mega-host is split across


def per_host_rank(df: DataFrame, order_cols=None, host_col: str = "url_host",
                  n_buckets: int = RANK_BUCKETS,
                  seq_bounds: Optional[Tuple[int, int]] = None) -> DataFrame:
    """Exact rank within host over (priority DESC, seq DESC), skew-safe.

    Adds a ``host_rank`` column (1-based).  ``seq_bounds`` = known
    (min_seq, max_seq) of the frame: callers that already track the
    seq range (the round loop folds it into its single queue-stats
    job) pass it to avoid a dedicated driver action here; any
    *superset* range is valid — bucket boundaries shift but the
    two-phase rank stays exact.
    """
    if seq_bounds is None:
        bounds = df.agg(
            F.min("seq").alias("lo"), F.max("seq").alias("hi")
        ).first()
        seq_bounds = (bounds.lo, bounds.hi)
    lo, hi = seq_bounds
    if lo is None:
        return df.withColumn("host_rank", F.lit(None).cast("long"))
    width = max(1, (int(hi) - int(lo) + 1) // n_buckets + 1)
    df = df.withColumn(
        "_bucket", ((F.col("seq") - F.lit(int(lo))) / width).cast("int")
    )
    w_local = Window.partitionBy(host_col, "priority", "_bucket").orderBy(
        F.col("seq").desc()
    )
    df = df.withColumn("_local_rank", F.row_number().over(w_local))

    counts = df.groupBy(host_col, "priority", "_bucket").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # groups of one host ordered (priority DESC, bucket DESC): cumulative
    # count of earlier groups re-bases the local rank
    w_cum = (
        Window.partitionBy(host_col)
        .orderBy(F.col("priority").desc(), F.col("_bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_base", F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0))
    ).select(host_col, "priority", "_bucket", "_base")

    ranked = (
        df.join(F.broadcast(offsets), on=[host_col, "priority", "_bucket"])
        .withColumn("host_rank", (F.col("_base") + F.col("_local_rank")).cast("long"))
        .drop("_bucket", "_local_rank", "_base")
    )
    return ranked


def schedule(
    admitted: DataFrame,
    politeness: Optional[DataFrame] = None,
    host_offsets: Optional[DataFrame] = None,
    round_start: float = 0.0,
    horizon: Optional[float] = None,
    seq_bounds: Optional[Tuple[int, int]] = None,
    host_priorities: Optional[DataFrame] = None,
    *,
    caches: Optional[List[DataFrame]] = None,
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """(scheduled, deferred, new_host_offsets).

    ``scheduled`` carries ``fetch_ts`` (seconds from crawl epoch) and the
    deterministic sort keys; ``deferred`` rows fell past the horizon and
    re-enter the next round's queue unchanged.  ``politeness`` and
    ``host_offsets`` are host-keyed dimension tables — broadcast joins,
    never a wide shuffle.  ``seq_bounds`` see ``per_host_rank``.

    ``host_priorities`` (url_host, host_priority) is the optional
    host-authority signal (e.g. ``linkgraph.rank_priorities`` over the
    crawl's own outlink graph): scheduled rows carry
    ``eff_priority = priority + host_priority`` and the global fetch
    order keys on it, so authority promotes WHOLE hosts across the
    schedule without touching within-host order (the boost is uniform
    per host) or the stored ``priority`` — deferred rows and expanded
    children keep the base priority, so the boost is re-derived each
    round and can never compound across rounds or depths.  Without the
    dimension ``eff_priority == priority`` (the reference-parity
    default: every reference request is priority 0).

    ``caches`` (a list, as in ``seen.filter_unseen``): the ranked frame
    is persisted and appended to it, so the three results share one
    evaluation of the rank; the caller releases it.  Without ``caches``
    nothing is persisted and each result re-derives the rank.
    """
    df = per_host_rank(admitted, seq_bounds=seq_bounds)

    if host_priorities is not None:
        df = df.join(
            F.broadcast(host_priorities.select(
                "url_host",
                F.col("host_priority").cast("long").alias("_hboost"),
            )),
            on="url_host", how="left",
        ).withColumn(
            "eff_priority",
            F.col("priority") + F.coalesce(F.col("_hboost"), F.lit(0)),
        ).drop("_hboost")
    else:
        df = df.withColumn("eff_priority", F.col("priority"))

    if politeness is not None:
        df = df.join(
            F.broadcast(
                politeness.select(
                    "url_host",
                    F.col("download_delay").alias("_delay"),
                    F.col("max_per_host").alias("_conc"),
                )
            ),
            on="url_host",
            how="left",
        )
    else:
        df = df.withColumn("_delay", F.lit(None).cast("double")).withColumn(
            "_conc", F.lit(None).cast("int")
        )
    df = df.withColumn("_delay", F.coalesce("_delay", F.lit(DEFAULT_DELAY)))
    df = df.withColumn("_conc", F.coalesce("_conc", F.lit(DEFAULT_MAX_PER_HOST)))

    if host_offsets is not None:
        df = df.join(
            F.broadcast(
                host_offsets.select("url_host", F.col("next_fetch_ts").alias("_off"))
            ),
            on="url_host",
            how="left",
        )
    else:
        df = df.withColumn("_off", F.lit(None).cast("double"))
    df = df.withColumn(
        "_base", F.greatest(F.coalesce("_off", F.lit(0.0)), F.lit(float(round_start)))
    )

    df = df.withColumn(
        "fetch_ts",
        F.col("_base")
        + F.floor((F.col("host_rank") - 1) / F.col("_conc")) * F.col("_delay"),
    )
    if caches is not None:
        caches.append(df.persist())
        df = caches[-1]

    if horizon is not None:
        deadline = float(round_start) + float(horizon)
        scheduled = df.filter(F.col("fetch_ts") < deadline)
        deferred = df.filter(F.col("fetch_ts") >= deadline).drop(
            "host_rank", "fetch_ts", "eff_priority",
            "_delay", "_conc", "_off", "_base"
        )
    else:
        scheduled = df
        deferred = df.limit(0).drop(
            "host_rank", "fetch_ts", "eff_priority",
            "_delay", "_conc", "_off", "_base"
        )

    new_offsets = (
        scheduled.groupBy("url_host")
        .agg(
            F.max("fetch_ts").alias("_last"),
            F.max("_delay").alias("_d"),
        )
        .select(
            "url_host",
            (F.col("_last") + F.col("_d")).alias("next_fetch_ts"),
            F.col("_d").alias("crawl_delay"),
        )
    )

    scheduled = scheduled.drop("_delay", "_conc", "_off", "_base")
    return scheduled, deferred, new_offsets


def queue_budget(
    queue: DataFrame,
    per_host: Optional[int] = None,
    total: Optional[int] = None,
    seq_bounds: Optional[Tuple[int, int]] = None,
) -> Tuple[DataFrame, DataFrame]:
    """(kept, shed) — bound a round's queue before scheduling.

    A 10^10-URL frontier cannot fetch everything every round; real
    crawlers cap work per host (fairness: one mega-host must not eat
    the round) and globally (round sizing).  ``per_host`` keeps each
    host's best ``k`` by the queue order (priority DESC, seq DESC)
    via the same skew-safe two-phase rank the scheduler uses — a
    mega-host is split across seq-range buckets, never one task.
    ``total`` then keeps the global best by (priority DESC, seq DESC):
    expressed as orderBy+limit, which Spark executes as
    TakeOrderedAndProject — each partition surfaces only its top
    ``total``, no global sort materializes.  ``shed`` rows re-enter
    the next round's queue unchanged (they keep base priority and
    seq, so nothing about their eventual order shifts).
    """
    kept = queue
    if per_host is not None:
        kept = per_host_rank(kept, seq_bounds=seq_bounds)
        kept = kept.filter(F.col("host_rank") <= int(per_host)) \
                   .drop("host_rank")
    if total is not None:
        kept = kept.orderBy(
            F.col("priority").desc(), F.col("seq").desc()
        ).limit(int(total))
    shed = queue.join(kept.select("url", "seq"), on=["url", "seq"],
                      how="left_anti")
    return kept, shed


def host_skew_report(queue: DataFrame, top_k: int = 20) -> DataFrame:
    """Top-``top_k`` heaviest hosts in the queue with depth, share,
    and cumulative share — the skew diagnostic behind the scheduler's
    salted-rank design (one glance says whether one host owns the
    round and whether the politeness budget, not the engine, is the
    wall-clock bound).

    Scale shape: one map-side-combined count per host, total via a
    broadcast 1-row aggregate, then orderBy+limit =
    TakeOrderedAndProject (each partition surfaces its top ``top_k``;
    no global sort).  The rank/cum-share window runs AFTER the limit,
    over ≤ ``top_k`` rows — the one place an unpartitioned window is
    the right tool.
    """
    per_host = queue.groupBy("url_host").agg(
        F.count(F.lit(1)).alias("depth"))
    total = per_host.agg(F.sum("depth").cast("double").alias("_total"))
    top = (
        per_host.orderBy(F.col("depth").desc(), F.col("url_host").asc())
        .limit(int(top_k))
    )
    w_rank = Window.orderBy(F.col("depth").desc(), F.col("url_host").asc())
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("share", F.round(F.col("depth") / F.col("_total"), 9))
        .withColumn("cum_share", F.round(
            F.sum("depth").over(w_cum) / F.col("_total"), 9))
        .drop("_total")
    )


def autothrottle_delays(fetches: DataFrame,
                        target_concurrency: int = 2,
                        start_delay_ms: int = 5000,
                        max_delay_ms: int = 60000,
                        min_delay_ms: int = 250,
                        host_col: str = "url_host",
                        latency_col: str = "latency_ms",
                        status_col: str = "status") -> DataFrame:
    """Adaptive per-host politeness from observed fetch latency — the
    batch form of Scrapy's AutoThrottle (the reference ships the
    knobs commented out, /root/reference/hepcrawl/settings.py:126-132,
    and its spiders hard-code per-spider delays with the literal
    comment "how to make this domain specific?",
    base_spider.py:63 / dnb_spider.py:54 — this operator is that
    answer at frontier scale).

    AutoThrottle's per-response rule converges on
    ``latency / target_concurrency``; over a batch window the mean
    OK-latency is that fixed point, so:

        delay_ms(host) = clamp(sum_ok_latency // (n_ok * target),
                               min_delay_ms, max_delay_ms)

    computed in EXACT integer arithmetic (latencies are integer
    milliseconds; one integer division).  Scrapy's "don't lower the
    delay on errors" rule becomes: hosts whose window contains any
    non-2xx response never drop below ``start_delay_ms``; hosts with
    no successful fetch at all hold ``start_delay_ms``.

    Output ``(url_host, n_ok, n_err, mean_ok_ms, delay_ms,
    download_delay)`` — ``download_delay`` in seconds, ready to merge
    into the politeness table the scheduler broadcasts
    (``robots.effective_politeness`` takes the conservative max with
    robots Crawl-delay exactly as for the static table).

    100 TB shape: ONE hash aggregate at host cardinality with
    map-side partial folding — a host with 10^8 fetches in the
    window collapses to one partial per task; no window function, no
    join, nothing at fetch-log cardinality leaves the scan stage.
    """
    tc = int(target_concurrency)
    ok = F.col(status_col).between(200, 299)
    agg = fetches.groupBy(F.col(host_col).alias("url_host")).agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_err"),
        F.sum(F.when(ok, F.col(latency_col)).otherwise(0))
        .alias("_ok_sum"),
    )
    # floor, not round: DuckDB mirrors with integer // (its
    # double->BIGINT cast ROUNDS where Spark's truncates)
    raw = F.floor(
        F.col("_ok_sum") / (F.col("n_ok") * F.lit(tc))
    ).cast("long")
    clamped = F.least(
        F.lit(int(max_delay_ms)).cast("long"),
        F.greatest(F.lit(int(min_delay_ms)).cast("long"), raw),
    )
    delay = (
        F.when(F.col("n_ok") == 0,
               F.lit(int(start_delay_ms)).cast("long"))
        .when(F.col("n_err") > 0,
              F.greatest(F.lit(int(start_delay_ms)).cast("long"),
                         clamped))
        .otherwise(clamped)
    )
    mean_ok = F.when(
        F.col("n_ok") > 0,
        F.floor(F.col("_ok_sum") / F.col("n_ok")).cast("long"),
    )
    return agg.select(
        "url_host", "n_ok", "n_err",
        mean_ok.alias("mean_ok_ms"),
        delay.alias("delay_ms"),
        (delay.cast("double") / F.lit(1000.0)).alias("download_delay"),
    )


def weighted_budget(
    queue: DataFrame,
    weights: DataFrame,
    total: int,
    floor: int = 1,
    seq_bounds: Optional[Tuple[int, int]] = None,
) -> Tuple[DataFrame, DataFrame]:
    """(kept, quotas) — divide a round's fetch budget across hosts in
    proportion to host VALUE, not host size: the budget-crawling rule
    (IRLbot's reputation-proportional budgets, Lee et al. 2009;
    OPIC/PageRank importance is the natural weight source — see
    ``linkgraph.opic_hosts``/``pagerank_hosts``), replacing f15's flat
    per-host cap.  A crawl that caps every host equally spends most
    of its round on worthless long-tail hosts; weighting by authority
    spends it where discovered value is.

    ``weights``: (url_host, weight ≥ 0); hosts absent from the table
    weigh 0 (floor-only).  Quotas are floor + largest-remainder
    apportionment of the surplus ``total - floor·H`` over weights —
    exact integer arithmetic (Hamilton's method), deterministic with
    ties broken by host name, so quotas sum to EXACTLY ``total`` and
    reproduce cross-engine.  Raises when the floor alone exceeds
    ``total`` (no silent starvation).

    Selection within a host is the queue order (priority DESC, seq
    DESC) via the same skew-safe two-phase rank the scheduler uses.

    100 TB shape: everything except the final rank-filter runs at
    HOST cardinality (distinct → two broadcast 1-row aggregates →
    one window over hosts — orders of magnitude below the queue);
    the queue itself pays one per-host rank (seq-bucketed, mega-host
    safe) and one broadcast join against the quota table.
    """
    if floor < 0 or total < 0:
        raise ValueError("floor and total must be non-negative")
    hosts = (
        queue.select("url_host").distinct()
        .join(weights.select("url_host",
                             F.col("weight").cast("double").alias("_w")),
              on="url_host", how="left")
        .withColumn("_w", F.coalesce("_w", F.lit(0.0)))
    )
    sums = hosts.agg(
        F.count(F.lit(1)).alias("_h"),
        F.sum("_w").alias("_wsum"),
    )
    quotas = (
        hosts.crossJoin(F.broadcast(sums))
        .withColumn("_e", F.lit(total) - F.lit(floor) * F.col("_h"))
        .withColumn(
            "_share",
            F.when(F.col("_wsum") > 0,
                   F.col("_e") * F.col("_w") / F.col("_wsum"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn("_base", F.floor("_share").cast("long"))
        .withColumn("_rem", F.col("_share") - F.col("_base"))
    )
    # largest-remainder top-up: leftover = E - Σbase seats, granted to
    # the biggest remainders (host-name tie-break) — window at host
    # cardinality
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col("url_host").asc())
    lsum = quotas.agg(
        (F.first("_e") - F.coalesce(F.sum("_base"), F.lit(0)))
        .alias("_left"))
    quotas = (
        quotas.withColumn("_rn", F.row_number().over(w_rem))
        .crossJoin(F.broadcast(lsum))
        .select(
            "url_host",
            (F.lit(floor) + F.col("_base")
             + (F.col("_rn") <= F.col("_left")).cast("long"))
            .alias("quota"),
            F.col("_e").alias("_e_chk"),
        )
    )
    # fail fast driver-side only when the floor is genuinely unpayable
    first = quotas.select("_e_chk").limit(1).collect()
    if first and first[0]._e_chk < 0:
        raise ValueError(
            f"floor {floor} over {total} total budget starves the "
            "surplus (floor*hosts > total) — lower floor or raise total"
        )
    quotas = quotas.drop("_e_chk")
    ranked = per_host_rank(queue, seq_bounds=seq_bounds)
    kept = (
        ranked.join(F.broadcast(quotas), on="url_host")
        .filter(F.col("host_rank") <= F.col("quota"))
        .drop("host_rank", "quota")
    )
    return kept, quotas


def retry_schedule(attempts: DataFrame,
                   base_delay_sec: int = 60,
                   max_retries: int = 3,
                   max_backoff_sec: int = 86400,
                   url_col: str = "url",
                   ts_col: str = "ts_us",
                   status_col: str = "status") -> DataFrame:
    """Per-URL retry state + exponential-backoff next-attempt time
    from a fetch-attempt log — the batch form of Scrapy's
    RetryMiddleware, which the reference runs implicitly on every
    spider (no RETRY_* override anywhere in
    /root/reference/hepcrawl/settings.py, so the stock middleware and
    its defaults apply to every fetch the reference makes), crossed
    with the exponential politeness backoff production crawlers
    (Heritrix, Nutch) apply to flaky hosts.

    Status classes follow the RetryMiddleware contract: 2xx/3xx =
    success; 5xx, 429 and 408 = transient (retryable); every other
    4xx = permanent.  Per URL, order attempts by timestamp and count
    the TRAILING run of transient failures since the last success:

    - any permanent failure after the last success → ``failed`` (no
      retry — the reference's spiders likewise drop 4xx records into
      the error sink rather than re-request);
    - trailing run = 0 → ``done``;
    - trailing run > ``max_retries`` → ``gave_up`` (stock
      RETRY_TIMES semantics: the attempt budget is exhausted);
    - else → ``retry`` with
      ``next_attempt_us = last_ts + base · 2^(run-1)`` capped at
      ``max_backoff_sec`` — exact BIGINT arithmetic (the power is an
      exact small integer, the product stays far under 2^53, and the
      floor() spelling truncates identically on Spark and DuckDB).

    Output: (url, attempts, trailing_fails, state, next_attempt_us
    — NULL unless state = 'retry').

    100 TB shape: TWO aggregations on the same url key (last-success
    timestamp, then the trailing counts) plus one equi-join between
    them — all three hash-partition on ``url``, the
    highest-cardinality key in the system, so AQE plans one balanced
    shuffle and reuses it; no windows over the raw log, no Python.
    Deterministic: no jitter by design (jitter would break replay and
    the cross-engine mirror; a scheduler can salt the emission order
    downstream without touching the arithmetic here).
    """
    ok = (F.col(status_col) >= 200) & (F.col(status_col) < 400)
    transient = (F.col(status_col) >= 500) | F.col(status_col).isin(429, 408)
    log = attempts.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).cast("long").alias("_ts"),
        ok.alias("_ok"),
        transient.alias("_tr"),
    )
    last_ok = log.groupBy("url").agg(
        F.max(F.when(F.col("_ok"), F.col("_ts"))).alias("_last_ok")
    )
    tail = (
        log.join(last_ok, on="url")
        .withColumn(
            "_after",
            F.col("_last_ok").isNull() | (F.col("_ts") > F.col("_last_ok")),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("attempts"),
            F.sum(F.when(F.col("_after") & F.col("_tr"), 1).otherwise(0))
            .cast("long").alias("trailing_fails"),
            F.sum(F.when(F.col("_after") & ~F.col("_tr") & ~F.col("_ok"),
                         1).otherwise(0))
            .cast("long").alias("_perm"),
            F.max("_ts").alias("_last_ts"),
        )
    )
    base_us = int(base_delay_sec) * 1_000_000
    cap_us = int(max_backoff_sec) * 1_000_000
    backoff = F.least(
        F.lit(cap_us).cast("long"),
        F.floor(F.lit(base_us)
                * F.pow(F.lit(2.0), (F.col("trailing_fails") - 1)
                        .cast("double"))).cast("long"),
    )
    state = (
        F.when(F.col("_perm") > 0, F.lit("failed"))
        .when(F.col("trailing_fails") == 0, F.lit("done"))
        .when(F.col("trailing_fails") > max_retries, F.lit("gave_up"))
        .otherwise(F.lit("retry"))
    )
    return tail.select(
        "url", "attempts", "trailing_fails",
        state.alias("state"),
        F.when(state == "retry", F.col("_last_ts") + backoff)
        .alias("next_attempt_us"),
    )


def apply_retry_gate(candidates: DataFrame, retries: DataFrame,
                     as_of_us: int,
                     url_col: str = "url") -> DataFrame:
    """Apply :func:`retry_schedule` verdicts to a candidate frontier
    ahead of :func:`schedule` — the consumption half of the retry
    table: permanently-failed and budget-exhausted URLs leave the
    frontier, backoff-deferred URLs wait their turn, everything else
    (incl. URLs with no attempt history) flows to the scheduler.

    Output: the candidate frame + ``(retry_state, next_attempt_us,
    gate)`` where gate ∈ ``drop`` (state failed/gave_up), ``defer``
    (state retry with ``next_attempt_us`` still in the future at
    ``as_of_us``), ``due`` (state retry, backoff elapsed — schedule
    it now), ``pass`` (state done or no history).  One-column
    verdict instead of a 4-way split so callers filter what they
    need and the cross-engine mirror is a single CASE.

    100 TB shape: ONE left equi-join on the url key (both sides
    hash-partition on the system's highest-cardinality key; the
    retry table carries three scalars per url, never text) and a
    codegen CASE — no windows, no skew surface, no Python.
    """
    r = retries.select(
        F.col("url").alias(url_col),
        F.col("state").alias("retry_state"),
        "next_attempt_us",
    )
    gate = (
        F.when(F.col("retry_state").isin("failed", "gave_up"),
               F.lit("drop"))
        .when((F.col("retry_state") == "retry")
              & (F.col("next_attempt_us") > F.lit(int(as_of_us))),
              F.lit("defer"))
        .when(F.col("retry_state") == "retry", F.lit("due"))
        .otherwise(F.lit("pass"))
    )
    return candidates.join(r, on=url_col, how="left") \
        .withColumn("gate", gate)


def ip_schedule(
    admitted: DataFrame,
    host_ip: Optional[DataFrame] = None,
    ip_politeness: Optional[DataFrame] = None,
    round_start: float = 0.0,
    seq_bounds: Optional[Tuple[int, int]] = None,
) -> DataFrame:
    """Per-IP politeness schedule (Mercator §4.2 / Heritrix
    ip-politeness): many virtual hosts resolve to one server, so the
    courtesy budget must bind at the IP, not the hostname — a crawler
    that is polite per-host can still hammer a shared box with one
    request per vhost simultaneously.  The reference's Scrapy tier
    exposes the same switch as CONCURRENT_REQUESTS_PER_IP
    (scrapy defaults; when set, Scrapy keys its download slots by IP
    instead of host).

    ``host_ip`` is the (url_host, ip) resolution dimension — a
    broadcast left join; hosts without a row fall back to their own
    name as the slot key (exactly Scrapy's behavior when DNS has not
    resolved: the slot key stays the host).  ``ip_politeness`` is
    (ip, download_delay, max_per_ip) — broadcast; absent rows get the
    module defaults.  Within an IP slot the order is the same
    deterministic (priority DESC, seq DESC) LIFO as ``schedule``, so
    co-hosted vhosts interleave by recency instead of starving each
    other host-by-host.

    The r-th request of slot i is fetched at
    ``round_start + floor((r-1)/max_per_ip) * delay_ip`` — the same
    arithmetic as the host schedule, keyed on the slot.

    100 TB shape: the resolution and budget dimensions (≤ one row per
    host / per IP) BROADCAST onto the frontier; the rank reuses the
    two-phase skew-safe ``per_host_rank`` keyed on the slot — a
    mega-IP (a CDN fronting thousands of vhosts) splits across
    seq-range buckets exactly like a mega-host, and the widest
    shuffle key is (ip, priority, bucket).  No Python, no
    unpartitioned window.
    """
    if host_ip is not None:
        df = admitted.join(
            F.broadcast(host_ip.select("url_host", "ip")),
            on="url_host", how="left",
        )
    else:
        df = admitted.withColumn("ip", F.lit(None).cast("string"))
    df = df.withColumn("ip", F.coalesce("ip", F.col("url_host")))

    df = per_host_rank(df, host_col="ip", seq_bounds=seq_bounds) \
        .withColumnRenamed("host_rank", "ip_rank")

    if ip_politeness is not None:
        df = df.join(
            F.broadcast(ip_politeness.select(
                "ip",
                F.col("download_delay").alias("_delay"),
                F.col("max_per_ip").alias("_conc"),
            )),
            on="ip", how="left",
        )
    else:
        df = df.withColumn("_delay", F.lit(None).cast("double")) \
               .withColumn("_conc", F.lit(None).cast("int"))
    df = (
        df.withColumn("_delay", F.coalesce("_delay", F.lit(DEFAULT_DELAY)))
        .withColumn("_conc", F.coalesce("_conc", F.lit(DEFAULT_MAX_PER_HOST)))
        .withColumn(
            "fetch_ts",
            F.lit(float(round_start))
            + F.floor((F.col("ip_rank") - 1) / F.col("_conc"))
            * F.col("_delay"),
        )
        .drop("_delay", "_conc")
    )
    return df


def politeness_audit(
    fetch_log: DataFrame,
    politeness: Optional[DataFrame] = None,
    host_col: str = "url_host",
    ts_col: str = "fetch_ts",
) -> DataFrame:
    """Audit an EXECUTED fetch log against the per-host courtesy
    contract — the verification half of ``schedule``: given what was
    actually fetched when, report per host whether the budget held.
    Real crawl operations run exactly this check over fetch logs
    (was any host hit faster than its crawl-delay? did a burst exceed
    the concurrency cap?) to catch scheduler regressions and
    misconfigured overrides before a webmaster does.

    A host's fetches group into WAVES (identical ``ts_col``); the
    contract is: no wave larger than ``max_per_host``, and
    successive waves at least ``download_delay`` apart.  Output per
    host: n_fetches, n_waves, max_wave, min_gap (NULL for
    single-wave hosts), wave_violations, gap_violations, ok.

    100 TB shape: the log folds to one row per (host, wave) in a
    single partial-agg groupBy — the only corpus-sized shuffle; the
    lag window then runs over the per-host-tiny wave table, and the
    budget dimension joins broadcast.  No Python.
    """
    waves = fetch_log.groupBy(
        F.col(host_col).alias("url_host"), F.col(ts_col).alias("_ts")
    ).agg(F.count(F.lit(1)).alias("_wave"))
    if politeness is not None:
        waves = waves.join(
            F.broadcast(politeness.select(
                "url_host",
                F.col("download_delay").alias("_delay"),
                F.col("max_per_host").alias("_conc"),
            )),
            on="url_host", how="left",
        )
    else:
        waves = waves.withColumn(
            "_delay", F.lit(None).cast("double")
        ).withColumn("_conc", F.lit(None).cast("int"))
    waves = (
        waves.withColumn("_delay",
                         F.coalesce("_delay", F.lit(DEFAULT_DELAY)))
        .withColumn("_conc",
                    F.coalesce("_conc", F.lit(DEFAULT_MAX_PER_HOST)))
    )
    w = Window.partitionBy("url_host").orderBy("_ts")
    gaps = waves.withColumn(
        "_gap", F.col("_ts") - F.lag("_ts").over(w)
    )
    return (
        gaps.groupBy("url_host")
        .agg(
            F.sum("_wave").cast("long").alias("n_fetches"),
            F.count(F.lit(1)).cast("long").alias("n_waves"),
            F.max("_wave").cast("long").alias("max_wave"),
            F.round(F.min("_gap"), 6).alias("min_gap"),
            F.sum(
                F.when(F.col("_wave") > F.col("_conc"), 1).otherwise(0)
            ).cast("long").alias("wave_violations"),
            F.sum(
                F.when(F.col("_gap") < F.col("_delay"), 1).otherwise(0)
            ).cast("long").alias("gap_violations"),
        )
        .withColumn(
            "ok",
            ((F.col("wave_violations") == 0)
             & (F.col("gap_violations") == 0)).cast("int"),
        )
    )


def age_priorities(queue: DataFrame, current_round: int,
                   rate: float = 1.0,
                   round_col: str = "enqueue_round",
                   priority_col: str = "priority") -> DataFrame:
    """Starvation-freedom for the budgeted frontier: a queue entry's
    effective priority grows with the number of rounds it has waited
    (``aged_priority = priority + floor((current_round −
    enqueue_round) · rate)``), so rows that ``queue_budget`` keeps
    shedding eventually outrank fresh arrivals and MUST schedule —
    the classic aging fix for priority-queue starvation, which a
    pure (priority DESC, seq DESC) order never guarantees: a hot
    host's fresh high-priority stream can shed the same old URLs
    every round forever.

    Integer arithmetic (floor of a product of plan literals) so the
    aged rank is bit-identical cross-engine and across re-runs; base
    ``priority`` is untouched — aging is re-derived each round from
    the stored enqueue round, exactly like the host-authority boost
    (``schedule(host_priorities=…)``), so it can never compound.

    100 TB shape: one codegen expression on the queue scan — no
    join, no window, no state.  Compose:
    ``queue_budget(age_priorities(queue, r).withColumn("priority",
    col("aged_priority")), per_host=k)`` keeps each host's best k by
    AGED order.
    """
    return queue.withColumn(
        "aged_priority",
        (F.col(priority_col)
         + F.floor((F.lit(int(current_round)) - F.col(round_col))
                   * F.lit(float(rate)))).cast("long"),
    )
