"""Reference implementations that only the tests use.

- ``simulate_schedule``: a pure-Python Scrapy-semantics crawl-schedule
  simulator, the parity oracle for the distributed scheduler
  (FIXTURES.md §5).  Independent implementation (event-driven, one
  request at a time) of the reference scheduler's public semantics:
  priority queues with LIFO tie-break, per-host download delay and
  per-host concurrency, zero fetch duration (the deterministic serial
  contract, BASELINE.md).  ``politeness.schedule`` must emit the
  identical (fetch order, url, fetch_ts) sequence.
- ``with_global_order``: the global fetch ordinal of a schedule, by one
  unpartitioned window.
- ``winnow_keys_col`` and ``cdc_bounds_col``: pure-codegen (higher-order
  function) forms of the winnowing selection and of the CDC bounds.
  The package computes both in one Arrow pass
  (``textops.winnow_keys_udf``, ``dedup.cdc_bounds_udf``); these stay
  as the zero-Python cross-engine references the Arrow paths are
  checked against.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hepcrawl_spark.operators.textops import (
    WINNOW_HASH_MOD,
    WINNOW_POS_CAP,
    WINNOW_POS_FIELD,
    bind_once,
    token_hash,
)


@dataclass
class HostBudget:
    delay: float = 0.0
    concurrency: int = 16


@dataclass
class _HostState:
    next_allowed: float = 0.0
    fetched_in_window: int = 0
    window_ts: float = field(default=-1.0)


def simulate_schedule(
    requests: List[Tuple[str, str, int, int]],
    budgets: Dict[str, HostBudget],
    round_start: float = 0.0,
    host_offsets: Dict[str, float] | None = None,
) -> List[Tuple[int, str, float]]:
    """requests: (url, host, priority, seq) in enqueue order.

    Returns [(fetch_order, url, fetch_ts)] in fetch order.
    """
    host_offsets = host_offsets or {}
    states: Dict[str, _HostState] = {}
    for host in {h for _, h, _, _ in requests}:
        base = max(host_offsets.get(host, 0.0), round_start)
        states[host] = _HostState(next_allowed=base, window_ts=-1.0)

    # min-heap keyed by (ready_ts, -priority, -seq)
    heap: List[Tuple[float, int, int, str, str]] = []
    for url, host, priority, seq in requests:
        heapq.heappush(
            heap, (states[host].next_allowed, -priority, -seq, url, host)
        )

    out: List[Tuple[int, str, float]] = []
    order = 0
    while heap:
        ready_ts, negp, negs, url, host = heapq.heappop(heap)
        st = states[host]
        if ready_ts < st.next_allowed:
            # host advanced since this entry was pushed — requeue
            heapq.heappush(heap, (st.next_allowed, negp, negs, url, host))
            continue
        fetch_ts = st.next_allowed
        order += 1
        out.append((order, url, fetch_ts))

        budget = budgets.get(host, HostBudget())
        if st.window_ts != fetch_ts:
            st.window_ts = fetch_ts
            st.fetched_in_window = 0
        st.fetched_in_window += 1
        if st.fetched_in_window >= max(budget.concurrency, 1):
            st.next_allowed = fetch_ts + budget.delay
            st.window_ts = -1.0
    return out


def with_global_order(scheduled: DataFrame) -> DataFrame:
    """Materialize the global fetch ordinal (a total order is inherently
    single-reducer, so production rounds sort within partitions by the
    same keys instead).  Keys on the effective (authority-boosted)
    priority when the schedule carries one."""
    prio = ("eff_priority" if "eff_priority" in scheduled.columns
            else "priority")
    w = Window.orderBy(
        F.col("fetch_ts").asc(), F.col(prio).desc(), F.col("seq").desc()
    )
    return scheduled.withColumn("fetch_order", F.row_number().over(w))


def winnow_keys_col(t: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing selection over a token-array column, as HOF lambdas:
    the distinct window minima of the packed (hash, position) k-gram
    keys — what ``textops.winnow_keys_udf`` computes in Arrow."""
    m = F.size(t) - F.lit(k - 1)

    def _keys(mm: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), mm),
            lambda i: (
                token_hash(F.concat_ws(" ", F.slice(t, i, k)))
                % F.lit(WINNOW_HASH_MOD)
            ) * F.lit(WINNOW_POS_FIELD)
            + (F.lit(WINNOW_POS_CAP) - i),
        )

    def _mins(keys: Column, mm: Column) -> Column:
        nwin = F.greatest(mm - F.lit(w - 1), F.lit(1))
        wlen = F.least(F.lit(w), mm)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), nwin),
                lambda j: F.array_min(F.slice(keys, j, wlen)),
            )
        )

    return F.when(
        m >= 1, bind_once(_keys(m), lambda ks: _mins(ks, m))
    ).otherwise(F.array().cast("array<bigint>"))


def cdc_bounds_col(text: Column, window: int = 16, divisor: int = 64,
                   max_chunk: int = 256) -> Column:
    """CDC bounds as one in-row HOF projection: the cut rule of
    ``dedup.cdc_bounds_udf`` (a position cuts when the md5-prefix hash
    of the ``window`` chars ending there is ≡ 0 mod ``divisor``; runs
    longer than ``max_chunk`` re-split at fixed strides), returning the
    ascending bounds array [0, …, length], [0] for empty or NULL text.
    """
    ln = F.length(text)
    wnd = F.lit(window)
    cuts = F.filter(
        F.transform(
            F.sequence(wnd, F.greatest(ln, wnd)),
            lambda i: F.when(
                (i < ln)  # a cut AT the end is just the end bound
                & (F.conv(F.substring(F.md5(text.substr(i - wnd + 1, wnd)),
                                      1, 15), 16, 10).cast("long")
                   % divisor == 0),
                i,
            ).otherwise(F.lit(-1)),
        ),
        lambda x: x != -1,
    )
    base = F.concat(F.array(F.lit(0)), cuts, F.array(ln))
    # max-cap re-split: between consecutive bounds, stride max_chunk.
    # NB sequence(lo, hi) DESCENDS when lo > hi, so every sequence
    # here is guarded ascending: base always has >= 2 elements in the
    # ln > 0 branch, and each inter-bound stride has hi >= lo.
    full = F.concat(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(base) - 1),
                lambda j: F.sequence(
                    F.element_at(base, j),
                    F.element_at(base, j + 1) - 1,
                    F.lit(max_chunk),
                ),
            )
        ),
        F.array(ln),
    )
    return F.when(ln > 0, full).otherwise(F.array(F.lit(0)))
