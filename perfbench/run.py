#!/usr/bin/env python3
"""Crawl-round benchmark: ``frontier.rounds.run_crawl`` end to end.

Run from the repository root:

    python3 perfbench/run.py --workload crawl-deep --seed 1 --seconds 10 --trace 0

The benchmark generates the workload's inputs from ``--seed``
(``perfbench/gen.py``), starts Spark on ``local[nproc]`` in this process
and crawls the workload a fixed ``CRAWLS[workload]`` times.  A crawl
round costs far more than any useful ``--seconds``, so the crawl count,
not ``--seconds``, sets how much a run measures; the flag is accepted
for the benchmark's command-line interface only.  The first crawl's
output is checked against the generator's expectations
(``perfbench/checks.py``); later crawls must report the same totals.
The last line of standard output is one JSON object: ``correct``,
``attempted`` (the pages the crawl should schedule), ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
horizon known-defect probe (which also warms the JVM), one untraced
crawl, then replays the crawl layer by layer with the Spark
event log on (``perfbench/tracing.py``) and reports the per-layer
metrics, including the replay's overhead against the untraced crawl.
Spans are written to ``.perfbench/spans/``.

Everything the run writes stays under ``.perfbench/`` in the current
checkout; the per-run scratch directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload -> crawls an untraced run measures.  Sized so one run (JVM
# start, the crawls, checks) stays near a minute on a 4-core host: a
# crawl-deep crawl takes about 35-45 s cold, a frontier-skew crawl about
# 20-25 s cold and 11-16 s warm, and two frontier-skew crawls are
# steadier than one cold crawl.
CRAWLS = {"crawl-deep": 1, "extract-bulk": 2, "frontier-skew": 2}
RESUME_WORKLOAD = "crawl-deep"


def _configure_env(work: str, trace: bool) -> None:
    """Keep Spark's scratch space inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {c}" for c in conf) + " pyspark-shell")


def _load(spark, in_dir: str):
    """The generated tables, pages cached (the corpus a fetch reads)."""
    from hepcrawl_spark.frontier.rounds import CrawlConfig

    def table(name):
        path = os.path.join(in_dir, name + ".parquet")
        return spark.read.parquet(path) if os.path.exists(path) else None

    pages = table("pages").persist()
    pages.count()
    with open(os.path.join(in_dir, "config.json")) as fh:
        cfg = json.load(fh)
    config = CrawlConfig(**{k: tuple(v) if isinstance(v, list) else v
                            for k, v in cfg.items()})
    with open(os.path.join(in_dir, "expect.json")) as fh:
        expect = json.load(fh)
    seeds = table("seeds")
    return {"pages": pages, "seeds": seeds, "n_seeds": seeds.count(),
            "politeness": table("politeness"), "robots": table("robots"),
            "config": config, "expect": expect}


def _crawl(spark, inp, store):
    from hepcrawl_spark.frontier.fingerprint import with_url_identity
    from hepcrawl_spark.frontier.rounds import run_crawl

    return run_crawl(spark, with_url_identity(inp["seeds"]), inp["pages"],
                     politeness=inp["politeness"], robots=inp["robots"],
                     store=store, config=inp["config"])


def _timed_crawl(spark, inp, root: str):
    """One measured crawl: wall, CPU and peak RSS of the process tree."""
    import procfs
    from store import TimedStore

    store = TimedStore(spark, root)
    pid = os.getpid()
    cpu0 = procfs.cpu_seconds(pid)
    with procfs.PeakRss(pid) as rss:
        t0 = time.perf_counter()
        totals = _crawl(spark, inp, store)
        t1 = time.perf_counter()
    cpu = procfs.cpu_seconds(pid) - cpu0
    marks = [t0] + [end for _, _, end in store.commits]
    return {"store": store, "totals": totals, "wall": t1 - t0, "cpu": cpu,
            "rss": rss.peak, "intervals": [b - a for a, b in zip(marks, marks[1:])]}


def _check_resume(spark, inp, crawl, cut_root: str) -> dict:
    """Cut a finished store back to round 0, resume it, and compare the
    records with the uninterrupted crawl's."""
    from checks import sorted_records
    from hepcrawl_spark.frontier.checkpoint import RoundStore

    src = crawl["store"]
    shutil.copytree(src.root, cut_root)
    os.remove(os.path.join(cut_root, "manifest.json"))
    for k in range(1, crawl["totals"]["rounds"]):
        shutil.rmtree(os.path.join(cut_root, "rounds", f"round-{k:05d}"),
                      ignore_errors=True)
    cut = RoundStore(spark, cut_root)
    _crawl(spark, inp, cut)
    same = sorted_records(cut) == sorted_records(src)
    return {"ok": same, "cut_after_round": 0,
            "rounds_resumed": crawl["totals"]["rounds"] - 1}


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _end_to_end(crawls, check, setup_s, store_bytes):
    """Rates are totals over the run's crawls (all crawl the same
    inputs to the same totals), so a slow crawl weighs by its time."""
    pages = check["pages"] * len(crawls)
    decided = (check["funnel"]["queue"] - check["funnel"]["deferred"]) * len(crawls)
    wall = sum(c["wall"] for c in crawls)
    intervals = [i for c in crawls for i in c["intervals"]]
    return {
        "pages_per_s": (pages / wall, "pages/s"),
        "urls_per_s": (decided / wall, "urls/s"),
        "round_s_p50": (statistics.median(intervals), "s"),
        "setup_s": (setup_s, "s"),
        "cpu_s_per_1k_pages": (1000.0 * sum(c["cpu"] for c in crawls) / pages, "cpu-s"),
        "store_bytes_per_page": (store_bytes / check["pages"], "bytes"),
    }, len(intervals)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import hepcrawl_spark  # noqa: F401  the engine under test
        from pyspark.sql import functions  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the crawl engine: {exc}", file=sys.stderr)
        return 2
    import gen

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, base: str) -> int:
    import bench_scaling
    import checks
    import gen

    trace = bool(args.trace)
    _configure_env(work, trace)
    sizes = gen.generate(args.workload, args.seed, os.path.join(work, "in"))
    nproc = os.cpu_count() or 1

    from hepcrawl_spark.session import get_spark
    from store import dir_usage

    t_setup = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    session_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        inp = _load(spark, os.path.join(work, "in"))
        setup_s = time.perf_counter() - t_setup
        horizon_lost = None
        if trace:
            import tracing as tr

            # the known-defect probe runs first: it also warms the JVM,
            # so the untraced crawl and the replay compared with it both
            # run warm
            horizon_lost = tr.horizon_probe(spark, inp["config"].seen_mode)

        # a traced run needs one untraced crawl to compare the replay with
        n_crawls = 1 if trace else CRAWLS[args.workload]
        crawls = [_timed_crawl(spark, inp, os.path.join(work, f"store-{i}"))
                  for i in range(n_crawls)]

        seq_block = inp["config"].seq_block
        check = checks.check_crawl(crawls[0]["store"], crawls[0]["totals"],
                                   inp["expect"], inp["n_seeds"], seq_block)
        first = {k: v for k, v in crawls[0]["totals"].items() if k != "manifest_path"}
        repeat_ok = all(
            {k: v for k, v in c["totals"].items() if k != "manifest_path"} == first
            for c in crawls[1:])
        store_bytes = dir_usage(crawls[0]["store"].root)[0]
        resume = None
        if args.workload == RESUME_WORKLOAD and trace:
            resume = _check_resume(spark, inp, crawls[0], os.path.join(work, "cut"))

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "git_commit": _git_commit(),
            "input": sizes,
            "crawls": len(crawls), "rounds": first["rounds"],
            "crawl_totals": first, "crawl_wall_s": [c["wall"] for c in crawls],
            "checks": {**check, "repeat_crawls_identical": repeat_ok,
                       "resume": resume},
        }
        correct = check["ok"] and repeat_ok and (resume is None or resume["ok"])

        if trace:
            metrics = _traced(spark, inp, crawls[0], work, base, args, session_s,
                              horizon_lost, record)
            correct = correct and record["checks"]["replay"]["ok"]
        else:
            e2e, n_intervals = _end_to_end(crawls, check, setup_s, store_bytes)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            record["round_s_samples"] = n_intervals
            record["failed_frac"] = check["failed_frac"]
    finally:
        _stop(spark)
    record["host_capacity_8"] = bench_scaling.host_capacity((8,))[8]

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if not trace:
        print(f"{args.workload} failed_frac = {record['failed_frac']:.6g} ratio "
              f"({check['failed']} of {check['attempted']} pages to schedule)")
    print(f"{args.workload} checks: funnel_ok={check['funnel_ok']} "
          f"failed={check['failed']} missed={check['missed']} "
          f"repeat_identical={repeat_ok} "
          f"resume={'skipped' if resume is None else resume['ok']}")
    print(json.dumps({"record": record}, sort_keys=True, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(check["attempted"]),
        "failed": int(check["failed"]),
        "metrics": metrics,
    }))
    return 0


def _traced(spark, inp, crawl, work, base, args, session_s, horizon_lost,
            record):
    """The layer-by-layer replay; returns the per-layer metrics."""
    import pyarrow.parquet as pq

    import checks
    import tracing as tr
    from store import TimedStore

    tracer = tr.Tracer(spark.sparkContext)
    store = TimedStore(spark, os.path.join(work, "replay-store"))
    with tracer.span("run") as run:
        run["missed"] = tr.replay(
            tracer, run["id"], inp["seeds"], inp["pages"],
            inp["politeness"], inp["robots"], inp["config"], store,
            set(inp["expect"]["reachable"]))
    replay_s = run["end"] - run["start"]
    totals = {"rounds": len(store.commits), "url_filtered": 0, "blocked": 0,
              "scheduled": sum(store.read_meta(n)["scheduled"] for n, _, _ in store.commits)}
    for s in tracer.spans:
        if s["name"] == "frontier.urlfilter":
            totals["url_filtered"] += s["dropped"]
        elif s["name"] == "frontier.robots":
            totals["blocked"] += s["dropped"]
    replay_check = checks.check_crawl(store, totals, inp["expect"], inp["n_seeds"],
                                      inp["config"].seq_block)
    rows = pq.read_table(os.path.join(work, "in", "pages.parquet")).to_pylist()
    extract_us = tr.microtime_extraction([(r["url"], r["html"]) for r in rows])
    # the event log is complete once the context stops
    spark.sparkContext.stop()
    jobs = tr.parse_event_log(os.path.join(work, "eventlog"))

    spans_dir = os.path.join(base, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{args.workload}-{args.seed}.json")
    tracer.write(spans_path)
    values = tr.layer_metrics(tracer, jobs, session_s, extract_us, horizon_lost, {
        "trace.overhead": replay_s / crawl["wall"],
        "run.peak_rss_mb": crawl["rss"] / 2 ** 20,
    })
    units = tr.metric_names()
    record["checks"]["replay"] = {"ok": replay_check["ok"],
                                  "funnel": replay_check["funnel"],
                                  "failed": replay_check["failed"]}
    record.update(spans=os.path.relpath(spans_path, ROOT), replay_s=replay_s,
                  untraced_s=crawl["wall"], layer_table=tr.LAYER_TABLE,
                  known_defects={"frontier.politeness.horizon_lost": horizon_lost})
    return {k: {"value": values[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # a crashed run prints no result line
        traceback.print_exc()
        sys.exit(1)
