"""Snapshot metadata codec (SURVEY §1.1 metadata plane).

Format: InfluxDB 3 Core snapshot JSON (reference README.md:74-106) —
note the heterogeneous pair-arrays ``[id, object]`` for databases and
tables (Rust ``Vec<(u32, T)>`` serializations, kompactor.ts:190-192).
These cannot round-trip through spark.read.json (no single element
type), and the catalog is KBs — so this is driver-side Python by
design (SURVEY §1.3).

Fixes over the reference:
- B3: all ns epochs handled as Python int (arbitrary precision), never
  float (kompactor.ts:276-277 used Math.min/max over 1.7e18 > 2^53).
- B7: writes are atomic (tmp + fsync + rename), and the job orders
  metadata-rewrite BEFORE source deletion (kompactor.ts deleted first).
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field


@dataclass
class ParquetFileInfo:
    """One data file entry (reference README.md:97-105)."""

    id: int
    path: str
    size_bytes: int
    row_count: int
    chunk_time: int  # ns epoch
    min_time: int  # ns epoch
    max_time: int  # ns epoch

    @classmethod
    def from_json(cls, obj: dict) -> ParquetFileInfo:
        return cls(
            id=int(obj["id"]),
            path=str(obj["path"]),
            size_bytes=int(obj["size_bytes"]),
            row_count=int(obj["row_count"]),
            chunk_time=int(obj["chunk_time"]),
            min_time=int(obj["min_time"]),
            max_time=int(obj["max_time"]),
        )

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "path": self.path,
            "size_bytes": self.size_bytes,
            "row_count": self.row_count,
            "chunk_time": self.chunk_time,
            "min_time": self.min_time,
            "max_time": self.max_time,
        }


@dataclass
class SnapshotMetadata:
    """One ``*.info.json`` snapshot. databases/tables keep the
    pair-array structure: list[tuple[int, ...]]."""

    writer_id: str
    parquet_size_bytes: int
    row_count: int
    min_time: int
    max_time: int
    # [(db_id, {table_id: [ParquetFileInfo, ...]}), ...]
    databases: list[tuple[int, dict[int, list[ParquetFileInfo]]]] = field(default_factory=list)

    @classmethod
    def from_json(cls, obj: dict) -> SnapshotMetadata:
        dbs: list[tuple[int, dict[int, list[ParquetFileInfo]]]] = []
        for db_id, db_info in obj.get("databases", []):
            tables: dict[int, list[ParquetFileInfo]] = {}
            for table_id, files in db_info.get("tables", []):
                tables[int(table_id)] = [ParquetFileInfo.from_json(f) for f in files]
            dbs.append((int(db_id), tables))
        return cls(
            writer_id=str(obj["writer_id"]),
            parquet_size_bytes=int(obj["parquet_size_bytes"]),
            row_count=int(obj["row_count"]),
            min_time=int(obj["min_time"]),
            max_time=int(obj["max_time"]),
            databases=dbs,
        )

    def to_json(self) -> dict:
        return {
            "writer_id": self.writer_id,
            "parquet_size_bytes": self.parquet_size_bytes,
            "row_count": self.row_count,
            "min_time": self.min_time,
            "max_time": self.max_time,
            "databases": [
                [db_id, {"tables": [[tid, [f.to_json() for f in files]] for tid, files in sorted(tables.items())]}]
                for db_id, tables in self.databases
            ],
        }

    def all_files(self):
        """Yields (db_id, table_id, ParquetFileInfo) — the reference's
        triple nested loop (kompactor.ts:190-192) as a generator."""
        for db_id, tables in self.databases:
            for table_id, files in tables.items():
                for f in files:
                    yield db_id, table_id, f

    def recompute_totals(self) -> None:
        """Exact int stats over the catalog (B3/B6 fixed)."""
        files = [f for _, _, f in self.all_files()]
        self.parquet_size_bytes = sum(f.size_bytes for f in files)
        self.row_count = sum(f.row_count for f in files)
        if files:
            self.min_time = min(f.min_time for f in files)
            self.max_time = max(f.max_time for f in files)

    def max_file_id(self) -> int:
        return max((f.id for _, _, f in self.all_files()), default=0)


def read_snapshot(path: str) -> SnapshotMetadata:
    with open(path, encoding="utf-8") as fh:
        return SnapshotMetadata.from_json(json.load(fh))


def write_json_atomic(obj, path: str, indent: int | None = None) -> None:
    """tmp + fsync + rename: a crash never leaves a torn file (B7), and
    the content is on disk before the rename. The directory is not
    fsync'd: a journaling file system commits renames in order, so a
    later rename that survives a power loss implies this one did. The
    tmp file lives beside ``path`` and ends in ``.tmp``."""
    d = os.path.dirname(os.path.abspath(path))
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(obj, fh, indent=indent)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def write_snapshot_atomic(meta: SnapshotMetadata, path: str) -> None:
    """A snapshot written with ``write_json_atomic`` (B7)."""
    write_json_atomic(meta.to_json(), path, indent=2)


def footer_time_stats(parquet_path: str, time_col: str) -> tuple[int, int | None, int | None]:
    """(rows, min, max) of ``time_col`` from a Parquet footer — no data
    scan, int-exact (B3). min/max are None when the writer left no
    statistics for the column."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(parquet_path).metadata
    tmin = tmax = None
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            if col.path_in_schema == time_col and col.statistics is not None and col.statistics.has_min_max:
                s = col.statistics
                tmin = s.min if tmin is None else min(tmin, s.min)
                tmax = s.max if tmax is None else max(tmax, s.max)
    return md.num_rows, tmin, tmax


def bootstrap_snapshot(
    data_dir: str,
    host: str,
    time_col: str = "time",
    writer_id: str | None = None,
) -> SnapshotMetadata:
    """Adopt an uncataloged layout: walk <host>/dbs/db-N/table-N/...,
    read each Parquet footer (rows + time min/max — no data scan), and
    build a SnapshotMetadata over everything found. The entry point for
    taking ownership of files written by an external ingester (e.g. a
    streaming job) that doesn't maintain the snapshot catalog.
    """
    import glob as _glob
    import re as _re

    files: list[tuple[int, int, ParquetFileInfo]] = []
    next_id = 1
    base = os.path.join(data_dir, host, "dbs")
    for p in sorted(_glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)):
        rel = os.path.relpath(p, data_dir)
        m = _re.search(r"/db-(\d+)/table-(\d+)/", rel)
        if not m:
            continue
        db_id, table_id = int(m.group(1)), int(m.group(2))
        rows, tmin, tmax = footer_time_stats(p, time_col)
        files.append(
            (
                db_id,
                table_id,
                ParquetFileInfo(
                    id=next_id,
                    path=rel,
                    size_bytes=os.path.getsize(p),
                    row_count=rows,
                    chunk_time=tmin or 0,
                    min_time=tmin or 0,
                    max_time=tmax or 0,
                ),
            )
        )
        next_id += 1

    dbs: dict[int, dict[int, list[ParquetFileInfo]]] = {}
    for db_id, table_id, info in files:
        dbs.setdefault(db_id, {}).setdefault(table_id, []).append(info)
    meta = SnapshotMetadata(
        writer_id=writer_id or host,
        parquet_size_bytes=0,
        row_count=0,
        min_time=0,
        max_time=0,
        databases=[(db_id, tables) for db_id, tables in sorted(dbs.items())],
    )
    meta.recompute_totals()
    return meta
