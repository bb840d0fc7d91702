"""Fault injection over the compaction commit protocol (job.py).

A fault is raised at every step boundary of a pass: after each batch
write, after each rename of an output into place, after each snapshot
rewrite, and after each source deletion. After every fault:

- ``fsck_host`` finds no dangling entry and no stat mismatch (orphans
  are allowed until the next pass);
- a catalog read sees each group either exactly as before the pass or
  exactly as after it, never both or a mix;
- a fault-free re-run converges to the result of one fault-free pass:
  the same catalog manifest, the same files on disk, the same rows, and
  no ``.staging`` left behind.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pytest

from kompactor_spark.compaction import CompactionConfig, CompactionJob, job
from kompactor_spark.compaction.fsck import fsck_host
from kompactor_spark.compaction.readers import files_as_of, read_table

from tests import fixtures_compaction as FX
from tests.test_compaction import disk_parquets, rows_by_table

DATE = "2025-01-26"


class Injected(RuntimeError):
    """The fault raised by these tests."""


def _hour(h: int) -> int:
    return (FX.BASE_NS // (3600 * FX.NS) + h) * 3600 * FX.NS


def spread_layout(root: str) -> CompactionConfig:
    """Three groups over three overlapping snapshots:
    table 3 hour 11 (3 small files), table 3 hour 12 (4 larger files,
    split into parts by the returned config), table 4 hour 11 (2 files
    whose schemas differ, so a batch of its own), plus a singleton in
    table 3 hour 13 that must survive untouched."""
    b = FX.LayoutBuilder(root)
    entries = []
    wal = 1
    for table, hour, nfiles, rows in [(3, 11, 3, 30), (3, 12, 4, 400), (4, 11, 2, 20)]:
        for i in range(nfiles):
            tbl = FX.make_rows(rows, _hour(hour) + i * 7 * FX.NS, 3000 * FX.NS, seed=wal)
            if table == 4 and i == 1:
                tbl = tbl.append_column("f_new", pa.array(range(rows), pa.int64()))
            entries.append(b.add_parquet(0, table, DATE, hour, f"{wal:010d}.parquet", tbl))
            wal += 1
    single = b.add_parquet(0, 3, DATE, 13, f"{wal:010d}.parquet", FX.make_rows(10, _hour(13), 100 * FX.NS, seed=99))
    b.write_snapshot("0001.info.json", [e for i, e in enumerate(entries) if i % 3 == 0] + [single])
    b.write_snapshot("0002.info.json", [e for i, e in enumerate(entries) if i % 3 == 1])
    b.write_snapshot("0003.info.json", [e for i, e in enumerate(entries) if i % 3 == 2] + entries[1:2])
    small = sum(e["info"]["size_bytes"] for e in entries[:3])
    return CompactionConfig(max_desired_file_size_bytes=small)


GROUPS = [(3, 11), (3, 12), (4, 11)]


def group_paths(root: str) -> dict[tuple, frozenset]:
    """Cataloged paths per (table, hour), as a catalog read sees them."""
    out = {}
    for table, hour in GROUPS:
        files = files_as_of(root, FX.HOST, db=0, table=table)
        out[(table, hour)] = frozenset(f.path for f in files if f"/{hour:02d}-00/" in f.path)
    return out


def manifest(root: str) -> set[tuple]:
    return {(f.path, f.row_count, f.min_time, f.max_time, f.size_bytes) for f in files_as_of(root, FX.HOST)}


@pytest.fixture(scope="module")
def pristine(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("faults") / "pristine")
    config = spread_layout(root)
    return root, config


@pytest.fixture(scope="module")
def reference(spark, pristine, tmp_path_factory):
    """The layout before the pass and after one fault-free pass."""
    src, config = pristine
    root = str(tmp_path_factory.mktemp("faults") / "reference")
    shutil.copytree(src, root)
    before = {"groups": group_paths(root), "rows": rows_by_table(root)}
    report = CompactionJob(spark, root, [FX.HOST], config=config).run()[0]
    assert report.compacted_groups == 3
    outputs = {k: len(v) for k, v in group_paths(root).items()}
    assert outputs == {(3, 11): 1, (3, 12): 3, (4, 11): 1}, outputs
    after = {
        "groups": group_paths(root),
        "manifest": manifest(root),
        "disk": disk_parquets(root),
        "rows": rows_by_table(root),
    }
    return before, after


def fault(monkeypatch, kind: str, k: int) -> list[int]:
    """Raise ``Injected`` right after the k-th step of ``kind``; returns
    a counter whose length is the number of steps seen."""
    seen: list[int] = []

    def after(orig, counts):
        def wrapped(*args, **kwargs):
            result = orig(*args, **kwargs)
            if counts(*args):
                seen.append(1)
                if len(seen) == k:
                    raise Injected(f"{kind} #{k}")
            return result

        return wrapped

    in_dbs = f"{os.sep}dbs{os.sep}"
    if kind == "batch_write":
        monkeypatch.setattr(job.CompactionJob, "_write_batch", after(job.CompactionJob._write_batch, lambda *a: True))
    elif kind == "rename":
        monkeypatch.setattr(os, "replace", after(os.replace, lambda src, dst, *a: in_dbs in str(dst)))
    elif kind == "snapshot_write":
        monkeypatch.setattr(job, "write_snapshot_atomic", after(job.write_snapshot_atomic, lambda *a: True))
    elif kind == "delete":
        monkeypatch.setattr(os, "unlink", after(os.unlink, lambda p, *a: in_dbs in str(p)))
    else:
        raise ValueError(kind)
    return seen


def check_crash_state(spark, root: str, before: dict, after: dict) -> None:
    report = fsck_host(root, FX.HOST)
    assert not report.dangling and not report.stat_mismatches, report.summary()
    for key, paths in group_paths(root).items():
        assert paths in (before["groups"][key], after["groups"][key]), f"group {key} is half committed: {sorted(paths)}"
    for table in (3, 4):
        want = sum(len(r) for k, r in before["rows"].items() if k == ("db-0", f"table-{table}"))
        assert read_table(spark, root, FX.HOST, 0, table).count() == want


def check_converged(root: str, after: dict) -> None:
    assert manifest(root) == after["manifest"]
    assert disk_parquets(root) == after["disk"]
    assert rows_by_table(root) == after["rows"]
    assert fsck_host(root, FX.HOST).ok
    assert not os.path.exists(os.path.join(root, FX.HOST, job.STAGING))


def crash_and_rerun(spark, monkeypatch, pristine, reference, tmp_path, kind, k, parallelism=1) -> bool:
    """One fault at step k of ``kind``; False when the pass has fewer
    than k such steps (it then must equal the fault-free pass)."""
    src, config = pristine
    before, after = reference
    root = str(tmp_path / f"{kind}-{k}")
    shutil.copytree(src, root)
    with monkeypatch.context() as m:
        seen = fault(m, kind, k)
        try:
            CompactionJob(spark, root, [FX.HOST], config=config, parallelism=parallelism).run()
            fired = False
        except Injected:
            fired = True
    if not fired:
        assert len(seen) < k
        check_converged(root, after)
        return False
    check_crash_state(spark, root, before, after)
    CompactionJob(spark, root, [FX.HOST], config=config, parallelism=parallelism).run()
    check_converged(root, after)
    shutil.rmtree(root)
    return True


@pytest.mark.parametrize(
    "kind, steps",
    [("batch_write", 2), ("rename", 5), ("snapshot_write", 16), ("delete", 9)],
)
def test_fault_at_every_step(spark, monkeypatch, pristine, reference, tmp_path, kind, steps):
    """Every step of the kind is a crash point; the pass has exactly
    ``steps`` of them: 2 batches; 1+3+1 outputs; 6+6+4 snapshot writes
    (gather into the first of 3, 3 and 2 snapshots, strip the others,
    swap, add the outputs to the others); 3+4+2 sources."""
    k = 1
    while crash_and_rerun(spark, monkeypatch, pristine, reference, tmp_path, kind, k):
        k += 1
    assert k - 1 == steps


@pytest.mark.parametrize("kind", ["rename", "snapshot_write", "delete"])
def test_fault_under_parallelism(spark, monkeypatch, pristine, reference, tmp_path, kind):
    """Batches run concurrently: a fault in one leaves every group
    either untouched or committed, and a re-run converges."""
    assert crash_and_rerun(spark, monkeypatch, pristine, reference, tmp_path, kind, 2, parallelism=2)


def test_leftover_staging_is_invisible_and_cleared(spark, pristine, tmp_path):
    """A crashed pass's ``<host>/.staging`` (a staged output and its
    journal) never reaches fsck, catalog reads or bootstrap, and the next
    pass clears it after rolling the journaled commit back."""
    from kompactor_spark.compaction.metadata import bootstrap_snapshot, write_json_atomic

    src, config = pristine
    root = str(tmp_path / "stale")
    shutil.copytree(src, root)
    staged = os.path.join(root, FX.HOST, job.STAGING, "b0", f"{job.OUT}=0")
    os.makedirs(staged)
    first = sorted(glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True))[0]
    shutil.copy(first, os.path.join(staged, "part-00000.parquet"))
    # a renamed output whose commit never reached the catalog
    orphan = f"{FX.HOST}/dbs/db-0/table-3/{DATE}/11-00/c_0000000001_0000000003_h11.parquet"
    shutil.copy(first, os.path.join(root, orphan))
    write_json_atomic({"inputs": [], "outputs": [orphan]}, os.path.join(root, FX.HOST, job.STAGING, "commit-0.json"))

    report = fsck_host(root, FX.HOST)
    assert report.orphans == [orphan] and not report.dangling
    cataloged = {f.path for f in files_as_of(root, FX.HOST)}
    assert not any(job.STAGING in p for p in cataloged)
    adopted = {f.path for _, _, f in bootstrap_snapshot(root, FX.HOST).all_files()}
    assert adopted == cataloged | {orphan}

    CompactionJob(spark, root, [FX.HOST], config=config).run()
    assert not os.path.exists(os.path.join(root, FX.HOST, job.STAGING))
    assert fsck_host(root, FX.HOST).ok

