"""Minimal transaction log over plain parquet: atomic commits, snapshot
isolation, and time travel — the table-format concept (Delta/Iceberg) in
~150 lines, self-contained (no table-format jar), so the SEMANTICS stay
testable.

Design (the standard log-structured table format):
  - data files are immutable parquet parts under the table root;
  - the log is a sequence of JSON entries `_txlog/{version:08d}.json`,
    each listing files ADDED and files logically REMOVED by that commit;
  - a snapshot at version V = replay entries 1..V (adds minus removes) —
    readers list the LOG, never the directory, so concurrent writers'
    uncommitted files are invisible (snapshot isolation);
  - a commit is one atomic `os.link` of a staged entry to its final
    version path: POSIX link(2) fails with EEXIST if the version is
    taken, which IS the optimistic-concurrency check (two racing
    writers: exactly one wins; the loser retries against the new head).

At real scale the same design needs only (a) a distributed-FS rename/
put-if-absent primitive (S3 conditional put, HDFS rename) and (b)
checkpointed log compaction; both are orthogonal to the semantics
pinned in tests/test_txlog.py.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class VersionConflict(Exception):
    """Another writer committed this version first (optimistic retry)."""


class VersionedTable:
    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        os.makedirs(self.log_dir, exist_ok=True)

    # -- log plumbing -------------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.json")

    def latest_version(self) -> int:
        versions = [
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        return max(versions, default=0)

    def commit(
        self,
        added: list[str],
        removed: list[str],
        expected_version: int | None = None,
        stats: dict | None = None,
    ) -> int:
        """Atomically publish a commit; returns the new version.

        ``expected_version``: the head this writer based its work on —
        the commit targets expected_version + 1 and raises
        VersionConflict if another writer got there first (data files
        staged by the loser are simply never referenced: garbage, not
        corruption).  Default: current head (blind append — still
        atomic, still conflict-checked against concurrent committers).
        ``stats``: per-added-file column stats, recorded in the entry.
        """
        base = self.latest_version() if expected_version is None else expected_version
        version = base + 1
        entry = {"version": version, "added": added, "removed": removed}
        if stats is not None:
            entry["stats"] = stats
        staged = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(staged, "w") as fh:
            json.dump(entry, fh)
        try:
            os.link(staged, self._entry_path(version))  # atomic put-if-absent
        except FileExistsError:
            raise VersionConflict(
                f"version {version} already committed by another writer"
            ) from None
        finally:
            os.remove(staged)
        return version

    def _entries(self, version: int | None):
        """Log entries 1..version (default: head), in commit order."""
        head = self.latest_version() if version is None else version
        for v in range(1, head + 1):
            p = self._entry_path(v)
            if not os.path.exists(p):
                raise ValueError(f"missing log entry for version {v}")
            with open(p) as fh:
                yield json.load(fh)

    def snapshot_files(self, version: int | None = None) -> list[str]:
        """Live data files at a version (default: head), by log replay."""
        live: list[str] = []
        for entry in self._entries(version):
            for r in entry["removed"]:
                live.remove(r)
            live.extend(entry["added"])
        return live

    def _stats(self, added: list[str]) -> dict | None:
        """Per-file stats a commit records for its added files."""
        return None

    # -- dataframe surface --------------------------------------------------

    def write_commit(
        self,
        df: DataFrame,
        mode: str = "append",
        expected_version: int | None = None,
    ) -> int:
        """Stage df as new parquet files, then commit atomically.

        mode='append' adds the files; mode='overwrite' additionally
        removes every file live at the base version (logical delete —
        old files stay on disk for time travel).
        """
        assert mode in ("append", "overwrite")
        base = self.latest_version() if expected_version is None else expected_version
        part_dir = os.path.join(self.path, f"part-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(part_dir)
        added = sorted(
            os.path.join(part_dir, f)
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        )
        removed = self.snapshot_files(base) if mode == "overwrite" else []
        try:
            return self.commit(
                added, removed, expected_version=base, stats=self._stats(added)
            )
        except VersionConflict:
            shutil.rmtree(part_dir, ignore_errors=True)  # staged garbage
            raise

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        files = self.snapshot_files(version)
        if not files:
            raise ValueError("empty table snapshot")
        return spark.read.parquet(*files)


# ---------------------------------------------------------------------------
# Manifest statistics + file skipping
# ---------------------------------------------------------------------------


def _file_stats(path: str, cols: list[str]) -> dict:
    """Per-column [min, max] from the parquet footer (no data read)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        # only record stats whose values survive a JSON round-trip with
        # their type intact (int/float/str/bool): bytes / timestamps go
        # through json.dump(default=str) as repr-strings that a later
        # pruned_files() would compare as junk — wrongly pruning a LIVE
        # file.  Unrecorded stats mean "keep conservatively" on read.
        if lo is not None and all(
            isinstance(v, (int, float, str, bool)) for v in (lo, hi)
        ):
            out[c] = [lo, hi]
    return out


class StatsTable(VersionedTable):
    """VersionedTable whose commits carry per-file min/max MANIFEST
    STATISTICS (read from parquet footers at commit time — metadata
    only), enabling file skipping at read: a predicate range that
    misses a file's [min, max] never opens the file.  This is the
    Iceberg manifest / Delta stats mechanism; combined with a
    range-clustered write (repartitionByRange, cf. storage_zorder) the
    skip rate approaches the predicate's selectivity."""

    def __init__(self, path: str, stats_cols: list[str]):
        super().__init__(path)
        self.stats_cols = stats_cols

    def _stats(self, added: list[str]) -> dict:
        return {f: _file_stats(f, self.stats_cols) for f in added}

    def stats(self, version: int | None = None) -> dict:
        out: dict = {}
        for entry in self._entries(version):
            out.update(entry.get("stats", {}))
        return out

    def pruned_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[list[str], int]:
        """Files whose [min, max] for ``col`` overlaps [lo, hi], plus the
        total live-file count (for skip-rate accounting).  A file with
        no recorded stats for the column is conservatively KEPT."""
        live = self.snapshot_files(version)
        st = self.stats(version)
        kept = []
        for f in live:
            rng = st.get(f, {}).get(col)
            prune = False
            if rng is not None:
                # skip-only-on-proof: if the JSON-round-tripped stats
                # cannot be coerced/compared against the probe bounds,
                # KEEP the file — a wrong prune is silent data loss, a
                # wrong keep is one extra footer read
                try:
                    prune = hi < type(hi)(rng[0]) or lo > type(lo)(rng[1])
                except (TypeError, ValueError):
                    prune = False
            if not prune:
                kept.append(f)
        return kept, len(live)

    def read_pruned(self, spark, col: str, lo, hi, version: int | None = None):
        files, _ = self.pruned_files(col, lo, hi, version)
        if not files:
            raise ValueError("no files overlap the predicate range")
        return spark.read.parquet(*files)
