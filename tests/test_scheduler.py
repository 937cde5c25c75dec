"""Scheduler (F2/F3/F4) parity vs the pure-Python Scrapy-semantics
simulator, plus carried-offset and skew-safe rank checks."""

import random

from pyspark.sql import functions as F

from parity_refs import HostBudget, simulate_schedule, with_global_order

from hepcrawl_spark.frontier.politeness import per_host_rank, schedule
from hepcrawl_spark.frontier.seen import CANDIDATE_SCHEMA
from hepcrawl_spark.schema import POLITENESS_SCHEMA


def _frontier_df(spark, requests):
    rows = [
        (url, url, host, 0, prio, 0, seq, "s", "f")
        for url, host, prio, seq in requests
    ]
    # CANDIDATE columns: url, canon_url, url_host, fingerprint, priority,
    # depth, seq, source, format
    return spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8]) for r in rows],
        CANDIDATE_SCHEMA,
    )


def _budget_df(spark, budgets):
    return spark.createDataFrame(
        [(h, b.delay, b.concurrency) for h, b in budgets.items()],
        POLITENESS_SCHEMA,
    )


def _assert_parity(spark, requests, budgets, round_start=0.0):
    expected = simulate_schedule(
        [(u, h, p, s) for u, h, p, s in requests],
        budgets,
        round_start=round_start,
    )
    df = _frontier_df(spark, requests)
    scheduled, deferred, _ = schedule(
        df, _budget_df(spark, budgets), round_start=round_start
    )
    assert deferred.count() == 0
    got = [
        (r.fetch_order, r.url, r.fetch_ts)
        for r in with_global_order(scheduled)
        .orderBy("fetch_order")
        .collect()
    ]
    assert got == expected, f"\nspark: {got[:10]}\nsim:   {expected[:10]}"


def test_parity_lifo_single_host(spark):
    # all priority 0 → pure LIFO, delay spacing 5s (reference budget,
    # base_spider.py:63)
    reqs = [(f"http://a.org/{i}", "a.org", 0, i) for i in range(8)]
    budgets = {"a.org": HostBudget(delay=5.0, concurrency=1)}
    _assert_parity(spark, reqs, budgets)


def test_parity_multi_host_interleave(spark):
    reqs = []
    seq = 0
    for i in range(6):
        for host, n in (("slow.org", 1), ("fast.org", 2)):
            for j in range(n):
                reqs.append((f"http://{host}/{seq}", host, 0, seq))
                seq += 1
    budgets = {
        "slow.org": HostBudget(delay=10.0, concurrency=2),
        "fast.org": HostBudget(delay=0.0, concurrency=16),
    }
    _assert_parity(spark, reqs, budgets)


def test_parity_priorities_and_concurrency(spark):
    rng = random.Random(42)
    hosts = ["h1.org", "h2.org", "h3.org"]
    reqs = [
        (f"http://{h}/{i}", h, rng.choice([0, 1, 2]), i)
        for i, h in enumerate(rng.choice(hosts) for _ in range(60))
    ]
    budgets = {
        "h1.org": HostBudget(delay=5.0, concurrency=2),
        "h2.org": HostBudget(delay=3.0, concurrency=5),
        "h3.org": HostBudget(delay=0.0, concurrency=16),
    }
    _assert_parity(spark, reqs, budgets)


def test_parity_with_round_start(spark):
    reqs = [(f"http://a.org/{i}", "a.org", 0, i) for i in range(5)]
    budgets = {"a.org": HostBudget(delay=2.0, concurrency=1)}
    _assert_parity(spark, reqs, budgets, round_start=100.0)


def test_carried_offsets_across_rounds(spark):
    budgets = {"a.org": HostBudget(delay=5.0, concurrency=1)}
    r1 = _frontier_df(spark, [(f"http://a.org/{i}", "a.org", 0, i) for i in range(3)])
    s1, _, off1 = schedule(r1, _budget_df(spark, budgets))
    assert s1.agg(F.max("fetch_ts")).first()[0] == 10.0
    offsets = off1.collect()
    assert offsets[0].next_fetch_ts == 15.0

    r2 = _frontier_df(spark, [("http://a.org/next", "a.org", 0, 100)])
    s2, _, _ = schedule(r2, _budget_df(spark, budgets), host_offsets=off1)
    assert s2.first().fetch_ts == 15.0


def test_horizon_defers(spark):
    budgets = {"a.org": HostBudget(delay=10.0, concurrency=1)}
    df = _frontier_df(spark, [(f"http://a.org/{i}", "a.org", 0, i) for i in range(5)])
    scheduled, deferred, _ = schedule(
        df, _budget_df(spark, budgets), horizon=25.0
    )
    assert scheduled.count() == 3  # ts 0,10,20 < 25
    assert deferred.count() == 2
    # deferred rows keep the candidate shape for the next round
    assert set(deferred.columns) == set(CANDIDATE_SCHEMA.fieldNames())


def test_per_host_rank_matches_window_on_skewed_data(spark):
    # one mega-host with 5k rows + 50 small hosts; two-phase rank must
    # equal the naive single-window rank
    rows = []
    rng = random.Random(1)
    seqs = list(range(6000))
    rng.shuffle(seqs)
    for i, seq in enumerate(seqs):
        host = "mega.org" if i % 6 else f"small{i % 50}.org"
        rows.append((f"http://{host}/{seq}", host, rng.choice([0, 1]), seq))
    df = _frontier_df(spark, rows)
    ranked = per_host_rank(df)
    from pyspark.sql import Window
    w = Window.partitionBy("url_host").orderBy(
        F.col("priority").desc(), F.col("seq").desc()
    )
    naive = df.withColumn("naive_rank", F.row_number().over(w))
    joined = ranked.join(naive.select("url", "naive_rank"), on="url")
    mismatches = joined.filter(F.col("host_rank") != F.col("naive_rank")).count()
    assert mismatches == 0


def test_per_host_rank_mega_host_multi_partition(spark):
    """F4 skew evidence: one mega-host (100k rows, the arxiv.org
    case) must rank across many tasks — the seq-bucketed two-phase
    rank, not a single-partition window — and still produce the exact
    dense 1..N rank in (priority DESC, seq DESC) order."""
    from pyspark.sql import functions as F

    from hepcrawl_spark.frontier.politeness import per_host_rank

    n = 100_000
    df = spark.range(n).select(
        F.lit("mega.example.org").alias("url_host"),
        F.lit(0).cast("long").alias("priority"),
        F.col("id").alias("seq"),
    ).repartition(16)
    ranked = per_host_rank(df)
    # the window must partition by (host, priority, seq-bucket) — the
    # skew-splitting key — not by host alone (which would serialize
    # the mega-host into one task; AQE may still coalesce the tiny
    # OUTPUT, so the plan is the honest probe, not partition counts)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "_bucket" in plan
    rows = ranked.select("seq", "host_rank").collect()
    assert len(rows) == n
    # LIFO: highest seq gets rank 1
    by_seq = {r.seq: r.host_rank for r in rows}
    assert by_seq[n - 1] == 1
    assert by_seq[0] == n
    assert sorted(by_seq.values()) == list(range(1, n + 1))


def test_parity_randomized_scenarios(spark):
    """Seeded random frontier/budget scenarios vs the Scrapy-semantics
    simulator: mixed priorities, skewed hosts, carried round starts —
    the distributed schedule must reproduce the serial contract
    exactly on every one."""
    rng = random.Random(20260817)
    for _ in range(4):
        hosts = [f"h{i}.x" for i in range(rng.randint(1, 6))]
        budgets = {
            h: HostBudget(
                delay=rng.choice([0.0, 2.0, 5.0, 10.0]),
                concurrency=rng.choice([1, 2, 4, 16]),
            )
            for h in hosts
        }
        n = rng.randint(1, 120)
        seqs = rng.sample(range(1000), n)
        # skew: first host soaks up most of the frontier
        requests = [
            (
                "http://{}/p{}".format(
                    h := (hosts[0] if rng.random() < 0.6
                          else rng.choice(hosts)),
                    i,
                ),
                h,
                rng.choice([0, 0, 0, 1, 5]),
                seqs[i],
            )
            for i in range(n)
        ]
        _assert_parity(
            spark, requests, budgets,
            round_start=rng.choice([0.0, 7.5]),
        )


def test_weighted_budget_hamilton_seats(spark):
    # 4 hosts, weights 0/1/1/2 over total 12, floor 1: surplus 8
    # splits 0/2/2/4 exactly — quotas sum to total, zero-weight host
    # keeps the floor, selection is the queue order per host
    from hepcrawl_spark.frontier.politeness import weighted_budget

    rows = [(f"http://h{k}.x/p{i}", f"h{k}.x", 0, k * 100 + i)
            for k in range(4) for i in range(10)]
    queue = spark.createDataFrame(
        rows, "url string, url_host string, priority long, seq long")
    weights = spark.createDataFrame(
        [("h0.x", 0.0), ("h1.x", 1.0), ("h2.x", 1.0), ("h3.x", 2.0)],
        "url_host string, weight double")
    kept, quotas = weighted_budget(queue, weights, total=12, floor=1)
    q = {r.url_host: r.quota for r in quotas.collect()}
    assert q == {"h0.x": 1, "h1.x": 3, "h2.x": 3, "h3.x": 5}
    assert sum(q.values()) == 12
    got = kept.collect()
    assert len(got) == 12
    # within-host keep order is seq DESC: h3 keeps its 5 highest seqs
    h3 = sorted(r.seq for r in got if r.url_host == "h3.x")
    assert h3 == [305, 306, 307, 308, 309]


def test_weighted_budget_missing_weight_and_remainders(spark):
    from hepcrawl_spark.frontier.politeness import weighted_budget

    rows = [(f"http://h{k}.x/p{i}", f"h{k}.x", 0, k * 100 + i)
            for k in range(3) for i in range(5)]
    queue = spark.createDataFrame(
        rows, "url string, url_host string, priority long, seq long")
    # h2 absent from the table → weight 0, floor only; surplus 7 over
    # weights 1:2 → shares 2.33/4.67 → bases 2/4, leftover 1 goes to
    # the larger remainder (h1's .67 > h0's .33)
    weights = spark.createDataFrame(
        [("h0.x", 1.0), ("h1.x", 2.0)], "url_host string, weight double")
    _, quotas = weighted_budget(queue, weights, total=10, floor=1)
    q = {r.url_host: r.quota for r in quotas.collect()}
    assert q == {"h0.x": 3, "h1.x": 6, "h2.x": 1}
    assert sum(q.values()) == 10


def test_weighted_budget_starved_floor_raises(spark):
    import pytest as _pytest

    from hepcrawl_spark.frontier.politeness import weighted_budget

    rows = [(f"http://h{k}.x/p", f"h{k}.x", 0, k) for k in range(5)]
    queue = spark.createDataFrame(
        rows, "url string, url_host string, priority long, seq long")
    weights = spark.createDataFrame(
        [("h0.x", 1.0)], "url_host string, weight double")
    with _pytest.raises(ValueError, match="floor"):
        weighted_budget(queue, weights, total=3, floor=1)


def test_weighted_budget_wires_pagerank(spark):
    # the production wiring: f09 PageRank importances as the weight
    # table — the top-ranked host must get the biggest quota
    from hepcrawl_spark.frontier.linkgraph import pagerank_hosts
    from hepcrawl_spark.frontier.politeness import weighted_budget

    edges = spark.createDataFrame(
        [("h0.x", "h1.x", 5), ("h2.x", "h1.x", 5), ("h1.x", "h2.x", 1)],
        "src_host string, dst_host string, weight long")
    ranks = pagerank_hosts(edges, iterations=3).select(
        F.col("host").alias("url_host"), F.col("rank").alias("weight"))
    rows = [(f"http://h{k}.x/p{i}", f"h{k}.x", 0, k * 100 + i)
            for k in range(3) for i in range(20)]
    queue = spark.createDataFrame(
        rows, "url string, url_host string, priority long, seq long")
    _, quotas = weighted_budget(queue, ranks, total=30, floor=2)
    q = {r.url_host: r.quota for r in quotas.collect()}
    assert sum(q.values()) == 30
    assert q["h1.x"] == max(q.values())   # everyone links to h1


def test_ip_schedule_shared_slot(spark):
    # f42: two vhosts on one IP share a single courtesy budget —
    # per-host scheduling would fetch a.example and b.example
    # concurrently at t=0; per-IP scheduling serializes them
    from hepcrawl_spark.frontier.politeness import ip_schedule

    reqs = [
        (f"http://{h}/p/{i}", h, 0, s)
        for s, (h, i) in enumerate(
            (h, i) for i in range(3)
            for h in ("a.example", "b.example", "solo.example")
        )
    ]
    df = _frontier_df(spark, reqs)
    host_ip = spark.createDataFrame(
        [("a.example", "10.0.0.1"), ("b.example", "10.0.0.1")],
        "url_host string, ip string",
    )
    ip_pol = spark.createDataFrame(
        [("10.0.0.1", 1.0, 1), ("solo.example", 1.0, 1)],
        "ip string, download_delay double, max_per_ip int",
    )
    out = ip_schedule(df, host_ip, ip_pol).collect()
    shared = sorted(
        ((r.seq, r.fetch_ts) for r in out if r.ip == "10.0.0.1"),
        key=lambda x: -x[0],
    )
    # 6 urls through ONE slot at delay 1/conc 1: LIFO by seq, one
    # per second — not two-at-a-time as host scheduling would give
    assert [ts for _, ts in shared] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    # unmapped host falls back to its own name as the slot key
    solo = sorted(
        ((r.seq, r.fetch_ts) for r in out if r.ip == "solo.example"),
        key=lambda x: -x[0],
    )
    assert [ts for _, ts in solo] == [0.0, 1.0, 2.0]


def test_politeness_audit_flags_planted_violations(spark):
    from hepcrawl_spark.frontier.politeness import politeness_audit
    pol = _budget_df(spark, {"a.x": HostBudget(5.0, 2)})
    log = spark.createDataFrame(
        # a.x: clean waves at 0 (x2) and 5 (x2); b.x: wave of 3 at 0
        # then a refetch 2s later — both sides of the contract broken
        [("a.x", 0.0), ("a.x", 0.0), ("a.x", 5.0), ("a.x", 5.0),
         ("b.x", 0.0), ("b.x", 0.0), ("b.x", 0.0), ("b.x", 2.0)],
        "url_host string, fetch_ts double",
    )
    pol2 = spark.createDataFrame(
        [("a.x", 5.0, 2), ("b.x", 5.0, 2)],
        "url_host string, download_delay double, max_per_host int",
    )
    got = {r.url_host: r for r in politeness_audit(log, pol2).collect()}
    a, b = got["a.x"], got["b.x"]
    assert (a.ok, a.wave_violations, a.gap_violations) == (1, 0, 0)
    assert a.min_gap == 5.0 and a.max_wave == 2
    assert (b.ok, b.wave_violations, b.gap_violations) == (0, 1, 1)
    assert b.min_gap == 2.0 and b.max_wave == 3
    # schedule() output itself always audits clean
    reqs = [(f"http://a.x/{i}", "a.x", 0, i) for i in range(9)]
    sched, _, _ = schedule(_frontier_df(spark, reqs), pol)
    clean = politeness_audit(sched.select("url_host", "fetch_ts"),
                             pol).collect()
    assert all(r.ok == 1 for r in clean)


def test_age_priorities_ends_starvation(spark):
    # each round one fresh priority-1 URL arrives and the budget
    # serves exactly one entry; without aging the old priority-0 URL
    # loses to the fresh arrival every round forever — with aging it
    # is served within a rate-bounded number of rounds
    from pyspark.sql import functions as F

    from hepcrawl_spark.frontier.politeness import (
        age_priorities,
        queue_budget,
    )

    def run(rate, rounds=5):
        pending = [("http://h.x/old", "h.x", 0, 0, 0)]
        served = []
        for rnd in range(1, rounds + 1):
            pending.append(
                (f"http://h.x/fresh{rnd}", "h.x", 1, rnd, rnd))
            q = spark.createDataFrame(
                pending,
                "url string, url_host string, priority long, "
                "seq long, enqueue_round long",
            )
            aged = age_priorities(q, current_round=rnd, rate=rate)
            kept, _ = queue_budget(
                aged.withColumn("priority", F.col("aged_priority")),
                per_host=1,
            )
            win = kept.collect()[0].url
            served.append(win)
            pending = [r for r in pending if r[0] != win]
        return served

    assert "http://h.x/old" not in run(rate=0.0)     # starved forever
    aged_served = run(rate=1.0)
    assert "http://h.x/old" in aged_served           # aging rescues it
