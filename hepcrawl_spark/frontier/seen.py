"""URL-seen membership (F1) — the dedup gate in front of the scheduler.

Four modes:

- ``off``    — reference parity: the reference explicitly disables
  duplicate filtering (``DUPEFILTER_CLASS = BaseDupeFilter``,
  /root/reference/hepcrawl/settings.py:32-33), so every candidate is
  admitted and the "seen set" is the multiset of scheduled URLs.
- ``exact``  — distributed exact dedup: left-anti join of candidate
  fingerprints against the seen table + first-by-seq within the batch.
  One shuffle on a 64-bit key; scalable but the state table grows with
  the frontier.
- ``cuckoo`` — the 10^10-scale path: the seen set lives in S cuckoo
  shards (~16 bits/key), sharded by ``xxhash64(url_host) % S`` so one
  host's URLs always probe one shard.  Probe+insert runs as a single
  ``cogroup().applyInPandas`` over (candidates-by-shard, state-by-shard):
  a hand-rolled hash anti-join whose build side is the persistent
  filter.  Output is a union of admitted rows and refreshed shard blobs
  (split by ``row_kind`` afterwards) — one shuffle, state rows tiny.
- ``bloom``  — the same probe over Bloom bit arrays (bloom.py).

Both sharded modes run one vectorized probe per shard
(``_sharded_probe``): candidates sorted by ``seq`` are probed in one
``contains_many`` against the pre-batch filter, a numpy mask keeps the
first occurrence of each unseen fingerprint, and the kept keys are
inserted in ``seq`` order (``_probe_shard``, which the streaming gate
also runs per micro-batch).  Shards without candidates pass their blob
through undecoded.  A cuckoo blob holds only its occupied slots while
that is smaller (cuckoo.py), so state bytes scale with occupied slots;
an exhausted cuckoo eviction walk fails the round (``_cuckoo_insert``).
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..lifetimes import persist
from .bloom import BloomShard
from .cuckoo import CuckooShard

# candidate rows entering the seen gate (url identity already attached)
CANDIDATE_FIELDS = [
    ("url", StringType()),
    ("canon_url", StringType()),
    ("url_host", StringType()),
    ("fingerprint", LongType()),
    ("priority", LongType()),
    ("depth", IntegerType()),
    ("seq", LongType()),
    ("source", StringType()),
    ("format", StringType()),
]
CANDIDATE_SCHEMA = StructType([StructField(n, t) for n, t in CANDIDATE_FIELDS])

CUCKOO_STATE_SCHEMA = StructType([
    StructField("shard", IntegerType()),
    StructField("blob", BinaryType()),
])

_UNION_SCHEMA = StructType(
    [StructField("row_kind", StringType())]
    + CANDIDATE_SCHEMA.fields
    + [StructField("shard", IntegerType()), StructField("blob", BinaryType())]
)


def shard_of_host(host_col, num_shards: int):
    return F.pmod(F.xxhash64(host_col), F.lit(num_shards)).cast("int")


def empty_cuckoo_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], CUCKOO_STATE_SCHEMA)


def empty_exact_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "fingerprint long")


def _dedup_within_batch(candidates: DataFrame) -> DataFrame:
    """Keep the first-enqueued (min seq) row per fingerprint."""
    w = Window.partitionBy("fingerprint").orderBy(F.col("seq").asc())
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _cuckoo_insert(shard: CuckooShard, shard_id: int, keys: np.ndarray) -> None:
    """Insert ``keys`` in order; an exhausted eviction walk fails loudly
    (the homeless key would otherwise be a silent false negative)."""
    for h in keys.tolist():
        if not shard.insert(h):
            raise OverflowError(
                f"cuckoo seen shard {shard_id} overflowed: {shard.count} keys, "
                f"load {shard.count / (shard.n_buckets * 4):.3f}, overflow "
                f"{shard.overflow}; raise num_shards or shard_buckets")


def _insert_many(shard, shard_id: int, keys: np.ndarray) -> None:
    shard.insert_many(keys)


def _probe_shard(cand_pdf: pd.DataFrame, shard, shard_id: int,
                 insert: Callable, key: str = "fingerprint",
                 order: str = "seq") -> pd.DataFrame:
    """One shard's probe: the lowest-``order`` row of each ``key`` the
    pre-batch ``shard`` does not hold, in ``order``; their keys are
    inserted in that order.  Shared by the batch cogroup and the
    streaming GroupState gates (``streaming.pipeline``)."""
    cand_pdf = cand_pdf.sort_values(order, kind="mergesort")
    hashes = cand_pdf[key].to_numpy(dtype=np.int64)
    keep = np.zeros(len(hashes), dtype=bool)
    keep[np.unique(hashes, return_index=True)[1]] = True
    keep &= ~shard.contains_many(hashes)
    insert(shard, shard_id, hashes[keep])
    return cand_pdf.loc[keep]


def _sharded_probe(candidates: DataFrame, state: Optional[DataFrame],
                   num_shards: int, new_shard: Callable, load_shard: Callable,
                   insert: Callable, caches: Optional[List[DataFrame]]
                   ) -> Tuple[DataFrame, DataFrame]:
    """(admitted, new_state) through one cogroup probe per shard; a
    shard object needs ``contains_many`` and ``to_bytes``.  The probe
    output is persisted (both results read it) and appended to
    ``caches`` for the caller to release."""
    if state is None:
        state = empty_cuckoo_state(candidates.sparkSession)
    with_shard = candidates.withColumn(
        "shard", shard_of_host(F.col("url_host"), num_shards)
    )
    names = [n for n, _ in CANDIDATE_FIELDS]
    fields = _UNION_SCHEMA.fieldNames()

    def state_row(shard_id: int, blob) -> pd.DataFrame:
        return pd.DataFrame([{**dict.fromkeys(fields), "row_kind": "state",
                              "shard": shard_id, "blob": blob}],
                            columns=fields)

    def probe(key, cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame):
        shard_id = int(key[0])
        blob = state_pdf["blob"].iloc[0] if len(state_pdf) else None
        if not len(cand_pdf) and blob is not None:
            return state_row(shard_id, blob)
        shard = new_shard() if blob is None else load_shard(bytes(blob))
        admitted = _probe_shard(cand_pdf, shard, shard_id, insert)[
            names].assign(row_kind="url", shard=shard_id, blob=None)
        return pd.concat([admitted, state_row(shard_id, shard.to_bytes())],
                         ignore_index=True)[fields]

    unioned = persist(with_shard.groupBy("shard").cogroup(
        state.groupBy("shard")
    ).applyInPandas(probe, _UNION_SCHEMA), caches)
    admitted = unioned.filter(F.col("row_kind") == "url").select(*names)
    new_state = unioned.filter(F.col("row_kind") == "state").select(
        "shard", "blob"
    )
    return admitted, new_state


def filter_unseen(
    candidates: DataFrame,
    state: DataFrame | None,
    mode: str = "cuckoo",
    num_shards: int = 64,
    shard_buckets: int = 1 << 16,
    *,
    caches: Optional[List[DataFrame]] = None,
) -> Tuple[DataFrame, DataFrame | None]:
    """(admitted, new_state).  ``candidates`` must carry CANDIDATE columns.

    The cuckoo and bloom probes persist their output; pass ``caches``
    (a list the gate appends that frame to) to release it once both
    results are materialized, as ``run_crawl`` does after its commit.
    """
    spark = candidates.sparkSession
    candidates = candidates.select(*[n for n, _ in CANDIDATE_FIELDS])

    if mode == "off":
        return candidates, state

    if mode == "exact":
        if state is None:
            state = empty_exact_state(spark)
        batch = _dedup_within_batch(candidates)
        admitted = batch.join(
            state.select("fingerprint").hint("shuffle_hash"),
            on="fingerprint",
            how="left_anti",
        )
        new_state = state.union(admitted.select("fingerprint"))
        return admitted, new_state

    if mode == "cuckoo":
        return _sharded_probe(
            candidates, state, num_shards,
            lambda: CuckooShard(n_buckets=shard_buckets),
            CuckooShard.from_bytes, _cuckoo_insert, caches,
        )

    if mode == "bloom":
        # no false negatives (admitted ⊆ exact-admitted), a ~6e-4
        # false-positive rate, shards mergeable by bitwise OR.  Check
        # the power-of-two m_bits BloomShard needs on the driver, not as
        # an opaque task failure in the UDF (shard_buckets is shared
        # with cuckoo, where any count works)
        m_bits = shard_buckets * 16
        # (<= 0 would pass the power-of-two test alone)
        if shard_buckets <= 0 or m_bits & (m_bits - 1):
            raise ValueError(
                f"bloom mode needs power-of-two shard_buckets*16 bits; "
                f"got shard_buckets={shard_buckets} (m_bits={m_bits}). "
                f"Use a power of two (the cuckoo-mode default works)."
            )
        return _sharded_probe(
            candidates, state, num_shards,
            lambda: BloomShard(m_bits=m_bits, k=8),
            BloomShard.from_bytes,
            # int64 (possibly negative) — BloomShard remaps to uint64
            _insert_many, caches,
        )

    raise ValueError(f"unknown seen mode: {mode!r}")


def merge_seen_states(state_a: Optional[DataFrame],
                      state_b: Optional[DataFrame],
                      mode: str = "exact") -> Optional[DataFrame]:
    """Union two crawls' URL-seen states into one — the fleet-merge
    operation a distributed crawler needs when frontiers combine: a
    vertical crawl folds into the main crawl, or a rendezvous
    re-shard (``sharding.hrw_shard``) moves a host group onto a
    worker that already holds state for the shard.

    ``mode="exact"``: fingerprint-set union — one DISTINCT over the
    concatenated frames, hash-partitioned on the fingerprint.

    ``mode="bloom"``: per-shard blob union by bitwise OR — Bloom's
    headline algebraic property (``BloomShard.merge``), which cuckoo
    deliberately does not offer (deletion instead).  Shards pair by
    id in one cogroup; a shard present on one side passes through
    unchanged.  Merging never loses a member (no false negatives,
    before or after), and the union's false-positive rate is that of
    the OR'd bit pattern — budget fill accordingly.

    Both directions of error stay one-sided after a merge, so the
    gate's admitted ⊆ exact-admitted contract survives fleet
    reorganizations.
    """
    if state_a is None:
        return state_b
    if state_b is None:
        return state_a
    if mode == "exact":
        return state_a.unionByName(state_b).distinct()
    if mode != "bloom":
        raise ValueError(f"unsupported merge mode {mode!r}")

    def _or_blobs(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        blobs = list(a_pdf["blob"]) + list(b_pdf["blob"])
        if not blobs:
            return pd.DataFrame({"shard": [], "blob": []})
        merged = BloomShard.from_bytes(bytes(blobs[0]))
        for blob in blobs[1:]:
            merged = merged.merge(BloomShard.from_bytes(bytes(blob)))
        return pd.DataFrame(
            {"shard": [key[0]], "blob": [merged.to_bytes()]}
        )

    return (
        state_a.groupBy("shard")
        .cogroup(state_b.groupBy("shard"))
        .applyInPandas(_or_blobs, schema=CUCKOO_STATE_SCHEMA)
    )


def evict_seen(state: Optional[DataFrame], evictions: DataFrame,
               mode: str = "exact",
               num_shards: int = 64) -> Optional[DataFrame]:
    """Remove URLs from the seen state so they can be fetched again —
    the recrawl loop's missing half: ``recrawl.recrawl_candidates``
    decides WHAT is due, and this makes the gate forget it, without
    rebuilding the filter.  ``evictions`` must carry ``fingerprint``
    (and ``url_host`` for the sharded mode).

    ``mode="exact"``: one anti-join on the fingerprint key.
    ``mode="cuckoo"``: per-shard ``CuckooShard.delete`` in one
    cogroup — deletion is THE capability cuckoo filters trade
    fp-rate for over Bloom (Fan et al. 2014), and this is the
    operation that justifies carrying it.  ``mode="bloom"`` raises:
    a Bloom filter cannot unset shared bits — schedule recrawls with
    the cuckoo or exact backend (the documented trade in bloom.py).

    State shards without evictions pass through unchanged; evictions
    for absent shards are no-ops.
    """
    if state is None:
        return None
    if mode == "exact":
        return state.join(
            evictions.select("fingerprint").distinct(),
            on="fingerprint", how="left_anti",
        )
    if mode == "bloom":
        raise ValueError(
            "bloom seen-state cannot delete (shared bits); use the "
            "cuckoo or exact backend for recrawl eviction"
        )
    if mode != "cuckoo":
        raise ValueError(f"unsupported evict mode {mode!r}")

    ev = evictions.select(
        shard_of_host(F.col("url_host"), num_shards).alias("shard"),
        "fingerprint",
    )

    def _evict(key, st_pdf: pd.DataFrame, ev_pdf: pd.DataFrame):
        if not len(st_pdf):
            return pd.DataFrame({"shard": [], "blob": []})
        shard = CuckooShard.from_bytes(bytes(st_pdf["blob"].iloc[0]))
        for fp in ev_pdf["fingerprint"]:
            shard.delete(int(fp))  # raw signed, same as the gate
        return pd.DataFrame({"shard": [key[0]],
                             "blob": [shard.to_bytes()]})

    return (
        state.groupBy("shard")
        .cogroup(ev.groupBy("shard"))
        .applyInPandas(_evict, schema=CUCKOO_STATE_SCHEMA)
    )
