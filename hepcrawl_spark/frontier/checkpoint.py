"""Resumable crawl checkpoints (F7) with atomic per-round commits.

The round loop talks to ONE store contract (``BaseRoundStore``), with
Iceberg's snapshot-commit semantics: a round is visible iff its commit
record exists, the commit point is a single atomic filesystem
operation, committing the same round twice (or losing a concurrent
commit race) raises ``CommitConflictError``, and snapshot ids are
strictly monotone.  This mirrors the reference's JOBDIR persistence
(/root/reference/hepcrawl/settings.py:120) — a killed job resumes from
the last committed round and re-does at most one uncommitted round.

A commit writes the round's tables concurrently, one Spark job per
table on its own thread (``BaseRoundStore._write_round``); it waits
for every write, re-raises the first failure, resolves the round's
``meta`` and only then creates the commit point.  A failed write
therefore leaves the round uncommitted, exactly like a kill
mid-commit.

Two interchangeable implementations prove the contract actually swaps
(tests/test_checkpoint_contract.py runs both through the same suite):

- ``RoundStore`` — one directory per round, ``MANIFEST.json`` created
  atomically (hard-link, fails if present) as the commit point.
- ``SnapshotLogStore`` — an Iceberg-shaped metadata log: immutable
  data snapshots under unique paths plus a linear chain of
  ``v<N>.metadata.json`` version files; a commit writes data, then
  atomically creates the next version file.  Optimistic concurrency:
  two writers racing for the same version — or re-committing a round —
  lose with ``CommitConflictError``, exactly Iceberg's
  ``CommitFailedException``.  On a cluster, swap this class for real
  Iceberg tables (one snapshot per round); the round loop is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Dict, List, Optional, Union

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# a round's manifest payload, or a zero-argument callable returning it,
# called once every table write has returned (so it can read counts the
# writes observed)
Meta = Union[dict, Callable[[], dict], None]


class CommitConflictError(RuntimeError):
    """The round is already committed, or a concurrent writer won the
    commit race (Iceberg ``CommitFailedException`` analog)."""


def _atomic_create(tmp_path: str, final_path: str) -> None:
    """Publish ``tmp_path`` at ``final_path`` iff nothing is there —
    the commit point.  ``os.link`` is atomic and fails with EEXIST on
    POSIX (unlike ``os.rename``, which silently overwrites)."""
    try:
        os.link(tmp_path, final_path)
    except FileExistsError:
        raise CommitConflictError(
            f"commit point already exists: {final_path}"
        ) from None
    finally:
        try:
            os.unlink(tmp_path)
        except FileNotFoundError:
            pass


class BaseRoundStore:
    """The store contract ``run_crawl`` depends on.

    Implementations provide: ``last_committed_round``, ``commit_round``
    (atomic; raises ``CommitConflictError`` on double/racing commit),
    ``read_table``, ``read_meta``, ``snapshot_log`` (monotone
    snapshot ids), and ``records_path`` (for the close-of-crawl
    manifest payload).  Cross-round readers are generic.
    """

    spark: SparkSession
    root: str

    # -- contract -------------------------------------------------------------

    def last_committed_round(self) -> Optional[int]:
        raise NotImplementedError

    def commit_round(self, n: int, tables: Dict[str, DataFrame],
                     meta: Meta = None) -> None:
        raise NotImplementedError

    def read_table(self, n: int, name: str,
                   schema: Optional[StructType] = None
                   ) -> Optional[DataFrame]:
        """``schema`` (when the caller knows it) skips the parquet
        schema-inference job."""
        raise NotImplementedError

    def read_meta(self, n: int) -> dict:
        raise NotImplementedError

    def snapshot_log(self) -> List[dict]:
        """Committed snapshots in commit order:
        [{"snapshot_id": int, "round": int}, ...]; snapshot ids are
        strictly increasing (Iceberg snapshot-history analog)."""
        raise NotImplementedError

    def records_path(self, n: int) -> str:
        raise NotImplementedError

    # -- shared commit body ---------------------------------------------------

    def _write_round(self, paths: Dict[str, str],
                     tables: Dict[str, DataFrame], meta: Meta) -> dict:
        """Write ``tables[name]`` to ``paths[name]`` concurrently, one
        thread per table; wait for all of them and re-raise the first
        failure.  Returns the resolved meta; the caller creates the
        commit point only after this returns."""
        # the threads inherit the caller's local properties (job group,
        # scheduler pool, tags); leaving the block waits for every job
        with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(
                    lambda df=df, path=paths[name]:
                    df.write.mode("overwrite").parquet(path)))
                for name, df in tables.items()
            ]
        for fut in futures:
            fut.result()
        return (meta() if callable(meta) else meta) or {}

    def _read(self, path: str, schema: Optional[StructType]) -> DataFrame:
        reader = self.spark.read
        return (reader.schema(schema) if schema is not None
                else reader).parquet(path)

    # -- cross-round readers (append-only outputs) ----------------------------

    def all_records(self) -> Optional[DataFrame]:
        return self._all_table("records")

    def all_lineage(self) -> Optional[DataFrame]:
        return self._all_table("lineage")

    def all_errors(self) -> Optional[DataFrame]:
        return self._all_table("errors")

    def _all_table(self, name: str) -> Optional[DataFrame]:
        last = self.last_committed_round()
        if last is None:
            return None
        dfs = [
            df for i in range(last + 1)
            if (df := self.read_table(i, name)) is not None
        ]
        if not dfs:
            return None
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out


class RoundStore(BaseRoundStore):
    """Filesystem store: one directory per round, manifest = commit."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "rounds"), exist_ok=True)

    # -- commit protocol ------------------------------------------------------

    def _round_dir(self, n: int) -> str:
        return os.path.join(self.root, "rounds", f"round-{n:05d}")

    def _manifest_path(self, n: int) -> str:
        return os.path.join(self._round_dir(n), "MANIFEST.json")

    def last_committed_round(self) -> Optional[int]:
        rounds_dir = os.path.join(self.root, "rounds")
        committed = []
        for name in os.listdir(rounds_dir):
            if name.startswith("round-") and os.path.exists(
                os.path.join(rounds_dir, name, "MANIFEST.json")
            ):
                committed.append(int(name.split("-")[1]))
        return max(committed) if committed else None

    def commit_round(self, n: int, tables: Dict[str, DataFrame],
                     meta: Meta = None) -> None:
        if os.path.exists(self._manifest_path(n)):
            raise CommitConflictError(f"round {n} is already committed")
        rdir = self._round_dir(n)
        if os.path.exists(rdir):  # uncommitted leftovers from a kill
            shutil.rmtree(rdir)
        os.makedirs(rdir)
        meta = self._write_round(
            {name: os.path.join(rdir, name) for name in tables}, tables, meta)
        manifest = {"snapshot_id": n, "round": n,
                    "tables": {name: name for name in tables}, "meta": meta}
        tmp = self._manifest_path(n) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        _atomic_create(tmp, self._manifest_path(n))  # commit point

    def read_table(self, n: int, name: str,
                   schema: Optional[StructType] = None
                   ) -> Optional[DataFrame]:
        if not os.path.exists(self._manifest_path(n)):
            return None
        path = os.path.join(self._round_dir(n), name)
        if not os.path.exists(path):
            return None
        return self._read(path, schema)

    def read_meta(self, n: int) -> dict:
        with open(self._manifest_path(n)) as fh:
            return json.load(fh)["meta"]

    def snapshot_log(self) -> List[dict]:
        rounds_dir = os.path.join(self.root, "rounds")
        log = []
        for name in sorted(os.listdir(rounds_dir)):
            mpath = os.path.join(rounds_dir, name, "MANIFEST.json")
            if name.startswith("round-") and os.path.exists(mpath):
                with open(mpath) as fh:
                    m = json.load(fh)
                log.append({"snapshot_id": m.get("snapshot_id",
                                                m["round"]),
                            "round": m["round"]})
        return log

    def records_path(self, n: int) -> str:
        return os.path.join(self._round_dir(n), "records")

    # fast path: one multi-path parquet scan instead of a union chain
    def _all_table(self, name: str) -> Optional[DataFrame]:
        last = self.last_committed_round()
        if last is None:
            return None
        paths = [
            os.path.join(self._round_dir(i), name)
            for i in range(last + 1)
            if os.path.exists(os.path.join(self._round_dir(i), name))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)


class SnapshotLogStore(BaseRoundStore):
    """Iceberg-shaped store: immutable snapshots + a version-file log.

    Layout::

        <root>/data/snap-<ver>-r<round>/<table>/   immutable parquet
        <root>/metadata/v<ver>.metadata.json       linear version chain

    Each metadata file carries the FULL round→snapshot mapping (like
    Iceberg's snapshot list), so the newest version file alone defines
    the visible state.  A commit (a) writes data under a version-unique
    path, (b) reads the current version V, (c) atomically creates
    ``v(V+1)`` — losing the race to another writer, or re-committing a
    committed round, raises ``CommitConflictError`` and leaves only
    orphaned data files (maintenance-cleanable, exactly Iceberg).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    def _meta_path(self, ver: int) -> str:
        return os.path.join(self.root, "metadata",
                            f"v{ver:06d}.metadata.json")

    def _current_version(self) -> int:
        vers = [
            int(name[1:7])
            for name in os.listdir(os.path.join(self.root, "metadata"))
            if name.startswith("v") and name.endswith(".metadata.json")
        ]
        return max(vers) if vers else 0

    def _current_meta(self) -> dict:
        ver = self._current_version()
        if ver == 0:
            return {"snapshot_id": 0, "rounds": {}, "snapshots": []}
        with open(self._meta_path(ver)) as fh:
            return json.load(fh)

    def last_committed_round(self) -> Optional[int]:
        rounds = self._current_meta()["rounds"]
        return max(map(int, rounds)) if rounds else None

    def commit_round(self, n: int, tables: Dict[str, DataFrame],
                     meta: Meta = None) -> None:
        cur = self._current_meta()
        if str(n) in cur["rounds"]:
            raise CommitConflictError(f"round {n} is already committed")
        ver = cur["snapshot_id"] + 1
        snap_dir = os.path.join(self.root, "data", f"snap-{ver:06d}-r{n}")
        written = {name: os.path.join(snap_dir, name) for name in tables}
        meta = self._write_round(written, tables, meta)
        new_meta = {
            "snapshot_id": ver,
            "parent_snapshot_id": cur["snapshot_id"],
            "rounds": {**cur["rounds"],
                       str(n): {"snapshot_id": ver, "tables": written,
                                "meta": meta}},
            "snapshots": cur["snapshots"] + [{"snapshot_id": ver,
                                              "round": n}],
        }
        tmp = self._meta_path(ver) + f".tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(new_meta, fh)
        _atomic_create(tmp, self._meta_path(ver))  # commit point

    def _round_entry(self, n: int) -> Optional[dict]:
        return self._current_meta()["rounds"].get(str(n))

    def read_table(self, n: int, name: str,
                   schema: Optional[StructType] = None
                   ) -> Optional[DataFrame]:
        entry = self._round_entry(n)
        if entry is None or name not in entry["tables"]:
            return None
        return self._read(entry["tables"][name], schema)

    def read_meta(self, n: int) -> dict:
        entry = self._round_entry(n)
        if entry is None:
            raise FileNotFoundError(f"round {n} is not committed")
        return entry["meta"]

    def snapshot_log(self) -> List[dict]:
        return list(self._current_meta()["snapshots"])

    def records_path(self, n: int) -> str:
        entry = self._round_entry(n)
        if entry is not None and "records" in entry["tables"]:
            return entry["tables"]["records"]
        return os.path.join(self.root, "data", f"missing-r{n}", "records")
