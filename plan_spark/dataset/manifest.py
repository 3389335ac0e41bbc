"""Manifest: one JSON snapshot per dataset version.

Reference parity: storage2's Manifest is the version snapshot pointing at
Fragments -> DataFiles + DeletionFiles (/root/reference/pkg/storage2/
manifest.go:17-43, fragment.go:8-35); versions live one file each
(version.go:20-42 `_versions/N.manifest`). Same model here, JSON instead of
protobuf — metadata volume is tiny next to the data.

Each fragment carries row count + per-column min/max/null-count stats
(reference: statistics.go:16-165, zonemap_index.go:18-63) which the scan
planner uses for file-level pruning before Spark ever sees the file list.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from typing import Any

FORMAT = 2  # the format of every manifest written now


@dataclass
class Fragment:
    id: int
    path: str  # relative to dataset root
    rows: int
    bytes: int
    # col -> {"min": v, "max": v, "nulls": n} (JSON-encodable scalars)
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # deletion-vector sidecars (relative paths), applied merge-on-read
    deletion_files: list[str] = field(default_factory=list)
    # rows of this file the sidecars delete (reference DeletionFile
    # num_deleted_rows)
    deleted_rows: int = 0
    # stable-row-id segment descriptor (meaningful only when the manifest
    # has row_ids). The two segment kinds mirror the reference's
    # RowIdSequence (pkg/storage2/rowids.go:11-201):
    #   row_start >= 0  -> Range segment: physical position p in this file
    #                      carries row id row_start + p; zero storage.
    #   row_start None  -> Array segment: the file stores an explicit
    #                      __rowid column (written by rewrites, which mix
    #                      rows from many source fragments).
    # -1 is a commit-time sentinel: "assign my range during _apply against
    # the real base manifest" (so optimistic rebase can never duplicate ids).
    row_start: int | None = None


@dataclass
class Manifest:
    """One version of the table. ``format`` is FORMAT on every manifest
    written now; a stored manifest without it is format 1, which
    ``Dataset._load`` brings up to format 2 in memory, before any reader
    sees it, with one function: ``dataset._upgrade_manifest``."""

    version: int
    parent: int | None
    operation: str  # create|append|overwrite|delete|update|merge|rewrite|schema
    schema_json: str  # Spark StructType JSON
    fragments: list[Fragment] = field(default_factory=list)
    max_fragment_id: int = 0
    timestamp: float = field(default_factory=lambda: time.time())
    # added-column name -> SQL default expression (schema evolution backfill)
    column_defaults: dict[str, str] = field(default_factory=dict)
    # columns that get parquet bloom filters on every fragment write — the
    # engine's BloomFilter scalar index (reference: pkg/storage2/
    # bloomfilter_index.go:16-76). Persisted config, not per-file state:
    # the parquet footers carry the actual filters; readers get row-group
    # skipping on point-lookup misses through the normal pushdown path.
    bloom_columns: list[str] = field(default_factory=list)
    # stream id -> highest committed micro-batch id. Carried in the manifest
    # so streaming-batch dedupe rides the same O_EXCL atomic commit as the
    # data it guards: append + dedupe marker are one atomic file create, and
    # replays/concurrent writers settle through the optimistic-commit rebase.
    # O(#streams), not O(#batches) — batch ids are monotone per stream.
    stream_state: dict[str, int] = field(default_factory=dict)
    # stable row ids (reference rowids.go): when true, every row carries a
    # permanent id assigned at ingest, stable across delete / update /
    # compaction. next_row_id is the monotone allocator — ids are never
    # reused, even after overwrite.
    row_ids: bool = False
    next_row_id: int = 0
    # declared low-NDV columns whose fragments carry per-file DISTINCT value
    # sets in stats — the bitmap scalar index (bitmap_index.go:14-56) at
    # file granularity: equality predicates prune fragments whose set lacks
    # the value, even when min/max ranges interleave.
    bitmap_columns: list[str] = field(default_factory=list)
    # named secondary indexes registered transactionally (reference
    # index_transaction.go:19-246 CreateIndexOperation): name ->
    # {"kind": bitmap|bloom|ivf|fts, "column": str, "path": str|None,
    #  "covers_version": int, "params": {...}}. covers_version is the
    # snapshot the index was built from; freshness = no data operation
    # committed since (Dataset.index_fresh).
    indexes: dict[str, dict] = field(default_factory=dict)
    # logical column name -> physical (stored) column name. AlterColumns
    # renames (reference sdk/dataset.go:623-816) are metadata-only: the
    # physical name is frozen at first write and every fragment — past and
    # future — stores it, so a rename never rewrites data and old versions
    # keep reading under time travel. Absent entries mean logical==physical.
    column_mapping: dict[str, str] = field(default_factory=dict)
    format: int = FORMAT

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_dict(d: dict) -> "Manifest":
        d["fragments"] = [Fragment(**f) for f in d["fragments"]]
        return Manifest(**d)

    def fragment_ids(self) -> set[int]:
        return {f.id for f in self.fragments}
