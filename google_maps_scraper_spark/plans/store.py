"""Snapshot store: the one owner of the crawl engine's durable state, behind
a table-format contract written so that swapping the parquet delta log for
real Apache Iceberg is configuration, not surgery.

``SnapshotStore`` is the abstract seam — every method's docstring names the
Iceberg API call it corresponds to, and ``tests/test_store_contract.py``
exercises the contract purely through this interface, so an Iceberg-backed
implementation can be dropped in and certified by the SAME suite.
``ParquetDeltaLogStore`` is the shipped implementation and the only code
that knows the workdir layout:

    round=NNNN/              one committed snapshot: per-table parquet (a
                             delta or a compacted rewrite), the full live
                             ``frontier``, an optional ``bloom.bin``, and the
                             ``manifest.json`` pinning the chain + totals
    .tmp.round=NNNN.<id>/    a commit being staged (unique per attempt)
    .drop.<name>.<id>/       a dir being pruned (renamed aside first)
    WRITER                   the writer lease token

``take_over()`` sweeps the ``.tmp.*`` and ``.drop.*`` dirs older writers
left behind: it fences those writers out first.

Commit protocol (≙ Iceberg's file-system catalog, which commits by one
atomic rename of the next metadata version): ``commit`` stages every table,
then the manifest, in a private temp dir, checks the lease and that the
commit point has not already reached this round, and ``os.rename``s the
temp dir onto ``round=NNNN``.  The rename IS the commit — a round dir exists
only with its manifest inside — and a rename onto an existing round dir
fails (ENOTEMPTY) instead of replacing it, so a racing writer gets
``ConcurrentWriterError`` and no commit path ever removes a round dir.  The
commit point is the highest round dir holding a manifest; there is no
pointer file to flip.  Pruning (retention, expiry, rollback) renames each
victim aside before deleting it, so a crash mid-prune never leaves a
half-deleted dir that looks committed.

Reference parity: the reference keeps durable job state behind the
``JobProvider``/``JobRepository`` interfaces (postgres/provider.go:23,
postgres/repository.go) and upgrades the backing store without touching the
runner — this module is the same interface discipline applied to the
snapshot store.

Mapping table (store call → parquet impl → Iceberg API) — the one-page swap
plan lives in COVERAGE.md:

=====================  ==================================  =========================================
SnapshotStore           parquet delta-log impl              Apache Iceberg
=====================  ==================================  =========================================
snapshots()             round=NNNN dirs with manifest.json  Table.snapshots()
current()               highest committed round dir         Table.currentSnapshot().snapshotId()
manifest(at)            round=NNNN/manifest.json            Snapshot.summary() + manifest list
read(table, at)         union over the manifest chain       spark.read.option("snapshot-id", id)
totals(at)              manifest["totals"]                  summary "total-records" per table
is_resumable(at)        chain paths all present             snapshot not yet expired
rollback_to(at)         prune newer dirs, newest first      manageSnapshots().rollbackTo(id)
expire_snapshots(k)     prune unreferenced old round dirs   expireSnapshots().retainLast(k)
rewrite_data_files()    compacted full rewrite, new round   rewriteDataFiles() compaction action
take_over()/fencing     WRITER token + rename-no-replace    optimistic-concurrency commit conflict
commit() (engine)       staged dir + one atomic rename      newAppend().appendFile(...).commit()
=====================  ==================================  =========================================
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import uuid
from abc import ABC, abstractmethod
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FRONTIER_SCHEMA, RESULT_SCHEMA, SEEN_SCHEMA

_TABLE_SCHEMAS = {
    "seen": SEEN_SCHEMA,
    "results": RESULT_SCHEMA,
    "term": FRONTIER_SCHEMA,
    "frontier": FRONTIER_SCHEMA,
}
_CHAINED = ("seen", "results", "term")  # append-only, delta-chained tables


class ConcurrentWriterError(RuntimeError):
    """Another writer took over this store (its WRITER lease changed) or
    committed the same snapshot id first; the losing writer must abort
    instead of committing a split-brain snapshot (≙ the reference's
    single-writer postgres job table guarded by SELECT ... FOR UPDATE SKIP
    LOCKED claims, postgres/provider.go:148-244)."""


def _write_table(df: DataFrame, parts: int, path: str) -> None:
    df.coalesce(parts).write.mode("overwrite").parquet(path)


class SnapshotStore(ABC):
    """Abstract snapshot-store seam (see module docstring for the Iceberg
    mapping).  A snapshot id is the crawl round number that committed it —
    strictly increasing, like Iceberg's sequence numbers."""

    @abstractmethod
    def snapshots(self) -> list[int]:
        """All committed snapshot ids, ascending (≙ ``Table.snapshots()``)."""

    @abstractmethod
    def current(self) -> int | None:
        """The commit point (≙ ``Table.currentSnapshot()``); None if no
        snapshot has ever committed."""

    @abstractmethod
    def manifest(self, at: int) -> dict:
        """The snapshot's manifest: chain, totals, counters, commit_meta
        (≙ ``Snapshot.summary()`` + its manifest list)."""

    @abstractmethod
    def read(self, table: str, at: int | None = None) -> DataFrame:
        """Table contents AS OF snapshot ``at`` (default: current) —
        time-travel read (≙ ``spark.read.option("snapshot-id", id)``).
        ``table`` ∈ {seen, results, term, frontier}."""

    @abstractmethod
    def totals(self, at: int | None = None) -> dict:
        """Running row totals recorded by the snapshot (≙ the summary's
        ``total-records``); exact, maintained by riding Observations."""

    @abstractmethod
    def is_resumable(self, at: int) -> bool:
        """True iff the snapshot is committed and every chain leg it
        references still exists (≙ not expired)."""

    @abstractmethod
    def rollback_to(self, at: int) -> None:
        """Rewind the commit point to an older retained snapshot, discarding
        the now-divergent newer lineage
        (≙ ``table.manageSnapshots().rollbackTo(id)``)."""

    @abstractmethod
    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Drop snapshots outside the keep-last-K window whose data no
        retained chain references; returns the ids dropped
        (≙ ``table.expireSnapshots().retainLast(k)``).  Refuses (raises
        ValueError) if a retained chain still references an expiring dir —
        run ``rewrite_data_files`` first (Iceberg likewise never deletes
        files a retained snapshot references)."""

    @abstractmethod
    def rewrite_data_files(self, expected_token: str | None = None) -> int:
        """Compact every table's chain into a single full rewrite, published
        as a NEW snapshot; returns its id (≙ the ``rewriteDataFiles``
        compaction action, which also commits a new snapshot).  With
        ``expected_token``, the commit is conditional on holding the writer
        lease (≙ Iceberg's optimistic-concurrency commit: conflict →
        ``CommitFailedException``)."""

    @abstractmethod
    def writer_token(self) -> str | None:
        """The active writer lease token, if any."""

    @abstractmethod
    def take_over(self) -> str:
        """Acquire the writer lease with a fresh token, fencing out any
        still-live previous writer (its next conditional commit fails)."""


class ParquetDeltaLogStore(SnapshotStore):
    """The shipped implementation: every read and write of the crawl's
    workdir goes through this class.  ``CrawlEngine`` keeps only policy —
    what each commit writes (delta vs compaction, the manifest fields, the
    counters riding the writes) — and appends through ``commit`` (≙
    ``newAppend().commit()``); operators and resuming runs use the contract
    methods between and after crawls."""

    def __init__(self, spark: SparkSession, workdir: str | os.PathLike):
        self.spark = spark
        self.workdir = Path(workdir)

    # -- layout -------------------------------------------------------------

    def _dir(self, at: int) -> Path:
        return self.workdir / f"round={at:04d}"

    def _round_dirs(self) -> list[tuple[int, Path]]:
        out = []
        for d in self.workdir.glob("round=*"):
            try:
                out.append((int(d.name.split("=")[1]), d))
            except ValueError:
                continue
        # sort by the PARSED round number: lexicographic glob order breaks
        # the ascending invariant at round 10000 ("round=10000" sorts
        # before "round=9999" — r5 ADVICE, low)
        return sorted(out)

    @staticmethod
    def _round_of(rel_path: str) -> int:
        return int(rel_path.split("/", 1)[0].split("=")[1])

    def _chain_df(self, rel_paths: list[str], schema) -> DataFrame:
        """Union view over a manifest chain's immutable parquet dirs
        (bounded legs: compaction caps chain length)."""
        if not rel_paths:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(
            str(self.workdir / rel_paths[0])
        )
        for p in rel_paths[1:]:
            df = df.unionByName(
                self.spark.read.schema(schema).parquet(str(self.workdir / p))
            )
        return df

    def _drop(self, path: Path) -> None:
        """Rename ``path`` aside, then delete it: the rename is atomic, so a
        crash mid-delete leaves only a ``.drop.*`` dir that no read lists."""
        aside = path.with_name(f".drop.{path.name}.{uuid.uuid4().hex}")
        try:
            os.rename(path, aside)
        except FileNotFoundError:
            return
        shutil.rmtree(aside, ignore_errors=True)

    def _prune(self, victims: Iterable[int]) -> list[int]:
        """The one prune routine (retention, expiry, rollback): drops round
        dirs newest first, so a crash part-way leaves a committed prefix of
        the history whose head is still a resumable snapshot."""
        victims = sorted(victims)
        for r in reversed(victims):
            self._drop(self._dir(r))
        return victims

    def _check_lease(self, expected_token: str | None) -> None:
        if expected_token is not None and self.writer_token() != expected_token:
            raise ConcurrentWriterError(
                f"workdir {self.workdir} was taken over by another writer "
                f"(WRITER token != {expected_token!r}); refusing to commit"
            )

    # -- contract -----------------------------------------------------------

    def snapshots(self) -> list[int]:
        return [r for r, d in self._round_dirs() if (d / "manifest.json").exists()]

    def current(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def manifest(self, at: int) -> dict:
        p = self._dir(at) / "manifest.json"
        if not p.exists():
            raise ValueError(f"no committed snapshot for round {at}")
        return json.loads(p.read_text())

    def read(self, table: str, at: int | None = None) -> DataFrame:
        if table not in _TABLE_SCHEMAS:
            raise ValueError(f"unknown table {table!r}")
        at = self.current() if at is None else at
        if at is None:
            raise ValueError("store has no committed snapshot")
        m = self.manifest(at)
        if table == "frontier":
            # the live frontier is stored full per snapshot, not chained
            return self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                str(self._dir(at) / "frontier")
            )
        return self._chain_df(m["chain"][table], _TABLE_SCHEMAS[table])

    def totals(self, at: int | None = None) -> dict:
        at = self.current() if at is None else at
        if at is None:
            raise ValueError("store has no committed snapshot")
        return self.manifest(at)["totals"]

    def is_resumable(self, at: int) -> bool:
        try:
            m = self.manifest(at)
        except ValueError:
            return False
        return all(
            (self.workdir / p).exists()
            for paths in m["chain"].values()
            for p in paths
        )

    def rollback_to(self, at: int) -> None:
        latest = self.current()
        if latest is None:
            raise ValueError("store has no committed snapshot")
        if at > latest:
            raise ValueError(
                f"from_round={at} is ahead of the commit point (round {latest})"
            )
        if not (self._dir(at) / "manifest.json").exists():
            raise ValueError(
                f"round {at} has no committed snapshot in {self.workdir} "
                "(pruned by retention, or never durable with "
                "checkpoint_every > 1)"
            )
        # newer rounds are a now-divergent lineage; dropping them IS the
        # rewind (the commit point is the highest committed dir), and
        # re-running rollback_to after a crash part-way is idempotent
        self._prune(r for r, _ in self._round_dirs() if r > at)

    def expire_snapshots(self, keep_last: int) -> list[int]:
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        retained = self.snapshots()[-keep_last:]
        if not retained:
            return []
        cutoff = retained[0]
        referenced = {
            self._round_of(p)
            for r in retained
            for paths in self.manifest(r)["chain"].values()
            for p in paths
        }
        doomed = [r for r, _ in self._round_dirs() if r < cutoff]
        blocking = sorted(referenced & set(doomed))
        if blocking:
            raise ValueError(
                f"retained snapshots still reference round dirs {blocking}; "
                "run rewrite_data_files() first so the retained chain is "
                "self-contained (Iceberg never expires referenced files)"
            )
        return self._prune(doomed)

    def rewrite_data_files(self, expected_token: str | None = None) -> int:
        cur = self.current()
        if cur is None:
            raise ValueError("store has no committed snapshot")
        m = self.manifest(cur)
        rnd = cur + 1
        # admin-path compaction: small fixed writer parallelism is fine (the
        # engine's in-run compaction sizes by state; this runs between
        # crawls)
        tables = {
            t: (self._chain_df(m["chain"][t], _TABLE_SCHEMAS[t]), 8)
            for t in _CHAINED
            if m["chain"][t]
        }
        src = self._dir(cur)
        files = {"frontier": src / "frontier"}
        if (src / "bloom.bin").exists():
            files["bloom.bin"] = src / "bloom.bin"

        def manifest(legs: dict[str, str]) -> dict:
            chain = {t: [legs[t]] if t in legs else [] for t in _CHAINED}
            return dict(
                m,
                round=rnd,
                parent_round=cur,
                chain=chain,
                counters={**m.get("counters", {}), "round": rnd},
                commit_meta={
                    "actions": {t: "compact" for t in _CHAINED},
                    "appended": {"seen": 0, "results": 0, "term": {}},
                    "chain_len": {t: len(chain[t]) for t in chain},
                    "live_rows": m.get("commit_meta", {}).get("live_rows"),
                },
            )

        self.commit(rnd, tables, manifest, expected_token, files)
        return rnd

    def writer_token(self) -> str | None:
        marker = self.workdir / "WRITER"
        if not marker.exists():
            return None
        return marker.read_text().strip()

    def take_over(self) -> str:
        token = uuid.uuid4().hex
        tmp = self.workdir / f".WRITER.{token}"
        tmp.write_text(token)
        os.replace(tmp, self.workdir / "WRITER")
        # every older writer is fenced out now, so what its crashed commits
        # and prunes left behind can go: a staged commit is dropped through
        # a rename aside, so a fenced writer's concurrent publish rename
        # either lands whole before it or fails (ENOENT) after it
        for stale in self.workdir.glob(".tmp.*"):
            self._drop(stale)
        for stale in self.workdir.glob(".drop.*"):
            shutil.rmtree(stale, ignore_errors=True)
        return token

    # -- engine-facing (beyond the contract) --------------------------------

    def reset(self) -> None:
        """Empty the store for a fresh crawl: every snapshot and the lease
        go (the whole workdir is dropped and recreated)."""
        if self.workdir.exists():
            self._drop(self.workdir)
        self.workdir.mkdir(parents=True, exist_ok=True)

    def commit(
        self,
        at: int,
        tables: dict[str, tuple[DataFrame, int]],
        manifest: Callable[[dict[str, str]], dict],
        expected_token: str | None = None,
        files: dict[str, bytes | Path] | None = None,
    ) -> dict:
        """The one publish routine: commit snapshot ``at``.

        Writes ``tables`` ({name: (df, partitions)}) concurrently into a
        private temp dir and adds ``files`` ({name: bytes, or a path to
        copy}).  Then ``manifest(legs)`` builds the manifest — ``legs`` maps
        each written table to its chain entry, and Observations riding the
        writes are filled by then — and it is written last.  After the
        lease check and the guard against an already-advanced commit point,
        one ``os.rename`` onto ``round=NNNN`` commits.  Any failure removes
        only this attempt's temp dir; a lost race (lease moved before or
        during the commit, commit point at or past ``at``, or the rename
        target already exists) raises ConcurrentWriterError.  Returns the
        manifest."""
        self._check_lease(expected_token)
        rd = self._dir(at)
        tmp = self.workdir / f".tmp.{rd.name}.{uuid.uuid4().hex}"
        tmp.mkdir(parents=True)
        try:
            with ThreadPoolExecutor(max_workers=4) as ex:
                writes = [
                    ex.submit(_write_table, df, parts, str(tmp / name))
                    for name, (df, parts) in tables.items()
                ]
                for w in writes:
                    w.result()
            for name, src in (files or {}).items():
                if isinstance(src, bytes):
                    (tmp / name).write_bytes(src)
                elif src.is_dir():
                    shutil.copytree(src, tmp / name)
                else:
                    shutil.copy2(src, tmp / name)
            m = manifest({t: f"{rd.name}/{t}" for t in tables})
            (tmp / "manifest.json").write_text(json.dumps(m, indent=2))
            self._check_lease(expected_token)
            committed = self.current()
            if committed is not None and committed >= at:
                raise ConcurrentWriterError(
                    f"the commit point is already round {committed}, not "
                    f"below {at}; another writer committed a divergent "
                    "lineage — refusing to regress the commit point"
                )
            try:
                os.rename(tmp, rd)
            except OSError as e:
                if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                    raise
                raise ConcurrentWriterError(
                    f"another writer committed {rd.name} first; refusing "
                    "to replace it"
                ) from e
        except BaseException as e:
            shutil.rmtree(tmp, ignore_errors=True)
            if (
                isinstance(e, Exception)
                and not isinstance(e, ConcurrentWriterError)
                and expected_token is not None
                and self.writer_token() != expected_token
            ):
                # e.g. a take_over() swept the staged dir: the lost lease is
                # the cause, whatever the failed file operation says
                raise ConcurrentWriterError(
                    f"lost the writer lease on {self.workdir} while "
                    f"committing {rd.name}"
                ) from e
            raise
        return m

    def blob(self, at: int, name: str) -> bytes | None:
        """A side file committed with snapshot ``at`` (e.g. ``bloom.bin``),
        or None if that commit carried none."""
        p = self._dir(at) / name
        return p.read_bytes() if p.exists() else None

    def references_before(self, legs: list[str], cutoff: int) -> bool:
        """True iff a chain leg lives in a round dir older than ``cutoff``."""
        return any(self._round_of(p) < cutoff for p in legs)

    def prune_before(self, cutoff: int, chain: dict[str, list[str]]) -> list[int]:
        """Retention: drop round dirs older than round number ``cutoff``
        that ``chain`` (the newest commit's) does not reference."""
        referenced = {self._round_of(p) for ps in chain.values() for p in ps}
        return self._prune(
            r for r, _ in self._round_dirs() if r < cutoff and r not in referenced
        )
