"""Catalog integrity checker (fsck) — the P3/P4 invariants from the
test suite promoted to a product surface: after any crash, migration,
or manual surgery, verify that every snapshot entry points at a real
file whose footer agrees with the catalog, and that no data file is
orphaned. Footer-stats only — no data scan, O(#files) metadata reads.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from kompactor_spark.compaction.metadata import footer_time_stats, read_snapshot


@dataclass
class FsckReport:
    host: str
    files_checked: int = 0
    dangling: list[str] = field(default_factory=list)  # cataloged, not on disk
    orphans: list[str] = field(default_factory=list)  # on disk, not cataloged
    stat_mismatches: list[str] = field(default_factory=list)  # footer ≠ catalog

    @property
    def ok(self) -> bool:
        return not (self.dangling or self.orphans or self.stat_mismatches)

    def summary(self) -> str:
        state = "OK" if self.ok else "CORRUPT"
        return (
            f"{self.host}: {state} — {self.files_checked} files checked, "
            f"{len(self.dangling)} dangling, {len(self.orphans)} orphans, "
            f"{len(self.stat_mismatches)} stat mismatches"
        )


def fsck_host(data_dir: str, host: str, time_col: str = "time") -> FsckReport:
    report = FsckReport(host=host)
    cataloged: dict[str, object] = {}
    for sp in sorted(glob.glob(os.path.join(data_dir, host, "snapshots", "*.info.json"))):
        for _db, _tbl, f in read_snapshot(sp).all_files():
            cataloged[f.path] = f

    on_disk = {
        os.path.relpath(p, data_dir)
        for p in glob.glob(os.path.join(data_dir, host, "dbs", "**", "*.parquet"), recursive=True)
    }
    report.dangling = sorted(set(cataloged) - on_disk)
    report.orphans = sorted(on_disk - set(cataloged))

    for rel, info in sorted(cataloged.items()):
        if rel in report.dangling:
            continue
        report.files_checked += 1
        abs_path = os.path.join(data_dir, rel)
        rows, tmin, tmax = footer_time_stats(abs_path, time_col)
        problems = []
        if rows != info.row_count:
            problems.append(f"rows {rows} != {info.row_count}")
        if os.path.getsize(abs_path) != info.size_bytes:
            problems.append(f"size {os.path.getsize(abs_path)} != {info.size_bytes}")
        if tmin is not None and (tmin != info.min_time or tmax != info.max_time):
            problems.append(f"time [{tmin},{tmax}] != [{info.min_time},{info.max_time}]")
        if problems:
            report.stat_mismatches.append(f"{rel}: {'; '.join(problems)}")
    return report
