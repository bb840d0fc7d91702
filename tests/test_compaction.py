"""Compaction golden + property tests (SURVEY §5.3, FIXTURES.md §2).

Invariants on every scenario: P1 idempotence, P2 row conservation per
(db, table), P3 per-file time-sortedness + footer/metadata agreement,
P4 catalog↔disk integrity, P5 grouping isolation.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq
import pytest

from kompactor_spark.compaction import CompactionJob
from kompactor_spark.compaction.metadata import read_snapshot

from tests import fixtures_compaction as FX


def run_job(spark, root, **kw):
    job = CompactionJob(spark, root, [FX.HOST], **kw)
    return job.run()[0]


def catalog_files(root):
    out = []
    for sp in sorted(glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))):
        snap = read_snapshot(sp)
        for db_id, table_id, f in snap.all_files():
            out.append((sp, db_id, table_id, f))
    return out


def disk_parquets(root):
    return {
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True)
    }


def assert_invariants(root):
    """P3 + P4 over the current layout."""
    entries = catalog_files(root)
    on_disk = disk_parquets(root)
    cataloged = {f.path for _, _, _, f in entries}
    # P4: every catalog path exists; no orphan data files
    assert cataloged <= on_disk, f"dangling catalog entries: {cataloged - on_disk}"
    assert on_disk <= cataloged, f"orphaned files: {on_disk - cataloged}"
    # P3: each file time-sorted; footer min/max == metadata min/max
    for _, _, _, f in entries:
        t = pq.read_table(os.path.join(root, f.path), columns=["time"]).column("time").to_pylist()
        assert t == sorted(t), f"not time-sorted: {f.path}"
        if t:
            assert (min(t), max(t)) == (f.min_time, f.max_time), f"stat mismatch: {f.path}"
            assert len(t) == f.row_count


def rows_by_table(root):
    """P2 helper: multiset of rows per (db, table) via DuckDB."""
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
    out = {}
    for p in sorted(disk_parquets(root)):
        parts = p.split("/")
        key = (parts[2], parts[3])
        rows = con.execute(f"SELECT * FROM read_parquet('{os.path.join(root, p)}') ORDER BY time, f_int, f_str").fetchall()
        out.setdefault(key, []).append(rows)
    con.close()
    return {k: sorted(sum(v, [])) for k, v in out.items()}


SCENARIOS = {
    "basic_hour": FX.basic_hour,
    "multi_hour": FX.multi_hour,
    "multi_table": FX.multi_table,
    "recompact": FX.recompact,
    "overlapping_snapshots": FX.overlapping_snapshots,
    "ns_precision": FX.ns_precision,
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scenario(spark, tmp_path, name):
    root = str(tmp_path / name)
    SCENARIOS[name](root)
    before = rows_by_table(root)

    report = run_job(spark, root)
    assert report.compacted_groups >= 1 or name == "ns_precision"

    # P2: exact row conservation per (db, table)
    assert rows_by_table(root) == before
    assert_invariants(root)

    # P1: idempotence — second run is a no-op on merged groups
    report2 = run_job(spark, root)
    assert report2.compacted_groups == 0, "second run must be a no-op"
    assert rows_by_table(root) == before
    assert_invariants(root)


def test_basic_hour_golden(spark, tmp_path):
    """Golden: 3×50 rows → one c_0000000001_0000000003_h14.parquet,
    150 rows, matching a DuckDB replay of the reference's merge query
    (kompactor.ts:107-111)."""
    root = str(tmp_path / "golden")
    FX.basic_hour(root)
    inputs = sorted(glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True))
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
    expected = con.execute(
        f"SELECT * FROM read_parquet({[p for p in inputs]!r}) ORDER BY time, f_int, f_str"
    ).fetchall()

    report = run_job(spark, root)
    assert report.compacted_groups == 1
    (out_rel,) = report.results[0].output_paths
    assert os.path.basename(out_rel) == "c_0000000001_0000000003_h14.parquet"
    actual = con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(root, out_rel)}') ORDER BY time, f_int, f_str"
    ).fetchall()
    con.close()
    assert actual == expected
    assert len(actual) == 150


def test_multi_hour_singletons_untouched(spark, tmp_path):
    root = str(tmp_path / "mh")
    FX.multi_hour(root)
    report = run_job(spark, root)
    # hour 10 has one file → untouched (kompactor.ts:213 semantics)
    assert report.skipped_singletons == 1
    assert report.compacted_groups == 2
    on_disk = disk_parquets(root)
    assert any("10-00/0000000001.parquet" in p for p in on_disk)


def test_multi_table_isolation(spark, tmp_path):
    """P5: distinct (db, table) never co-merge (B5 fixed)."""
    root = str(tmp_path / "mt")
    FX.multi_table(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 3
    keys = {r.key[1:3] for r in report.results}
    assert keys == {("db-0", "table-3"), ("db-0", "table-4"), ("db-1", "table-7")}


def test_recompact_picks_up_compacted(spark, tmp_path):
    root = str(tmp_path / "rc")
    FX.recompact(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    (out_rel,) = report.results[0].output_paths
    # first wal from the pre-existing c_ file, last from the new WALs
    assert os.path.basename(out_rel) == "c_0000000001_0000000005_h14.parquet"
    assert report.results[0].row_count == 130


def test_overlapping_snapshots_consistent(spark, tmp_path):
    """Dedup across snapshots; BOTH metadata files updated; other-hour
    entries preserved (B4 fixed)."""
    root = str(tmp_path / "ov")
    FX.overlapping_snapshots(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1  # hour 20 is a singleton
    assert report.results[0].row_count == 90  # 3 files, deduped across snapshots
    for sp in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json")):
        snap = read_snapshot(sp)
        paths = [f.path for _, _, f in snap.all_files()]
        assert any("c_0000000001_0000000003_h14" in p for p in paths), sp
        assert any("20-00/0000000009.parquet" in p for p in paths), f"other-hour entry dropped from {sp}"
        assert not any("14-00/000000000" in p for p in paths), f"stale compacted entry in {sp}"


def test_missing_input_skipped(spark, tmp_path):
    root = str(tmp_path / "mi")
    FX.missing_input(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    assert report.results[0].dropped_missing, "ghost file should be reported"
    assert report.results[0].row_count == 60


def test_ns_precision_exact(spark, tmp_path):
    """B3 regression: adjacent-ns stats survive exactly."""
    root = str(tmp_path / "nsp")
    FX.ns_precision(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    r = report.results[0]
    assert r.min_time == 1_737_928_861_362_000_001
    assert r.max_time == 1_737_928_861_362_000_002
    assert_invariants(root)


def test_dry_run_is_read_only(spark, tmp_path):
    """B1 fixed: dry-run plans but writes nothing."""
    root = str(tmp_path / "dry")
    FX.basic_hour(root)
    before_files = disk_parquets(root)
    before_snap = open(glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.json"))[0]).read()
    report = run_job(spark, root, dry_run=True)
    assert report.compacted_groups == 1  # planned
    assert disk_parquets(root) == before_files
    assert open(glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.json"))[0]).read() == before_snap
    assert not os.path.exists(os.path.join(root, FX.HOST, ".staging"))


# -- K2: generation (daily) level ------------------------------------------


def test_generation_merges_day(spark, tmp_path):
    """K2: after hour compaction, a day's files (h-compacted + stray
    raw singletons) merge into one c_…_g<day> file; invariants hold."""
    root = str(tmp_path / "gen")
    FX.multi_hour(root)
    before = rows_by_table(root)
    run_job(spark, root)  # hour pass: hours 11,12 → c_…_h files

    job = CompactionJob(spark, root, [FX.HOST])
    report = job.run_generation()[0]
    assert report.compacted_groups == 1
    (out_rel,) = report.results[0].output_paths
    name = os.path.basename(out_rel)
    assert name.startswith("c_0000000001_") and "_g" in name and name.endswith(".parquet")
    # day-level output sits directly under <date>/
    assert out_rel.split("/")[-2] == "2025-01-26"
    assert rows_by_table(root) == before
    assert_invariants(root)

    # P1: generation pass is idempotent
    report2 = CompactionJob(spark, root, [FX.HOST]).run_generation()[0]
    assert report2.compacted_groups == 0


def test_generation_window_gating(spark, tmp_path):
    """Days with data newer than the 24 h window are NOT compacted."""
    root = str(tmp_path / "genw")
    FX.multi_hour(root)
    run_job(spark, root)
    snaps = [read_snapshot(p) for p in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))]
    max_t = max(f.max_time for s in snaps for _, _, f in s.all_files())

    job = CompactionJob(spark, root, [FX.HOST])
    hot = job.run_generation(now_ns=max_t + 3600 * FX.NS)[0]  # 1 h later: still hot
    assert hot.compacted_groups == 0
    cold = job.run_generation(now_ns=max_t + 25 * 3600 * FX.NS)[0]  # past the window
    assert cold.compacted_groups == 1


def test_generation_leaves_one_split_alone(spark, tmp_path):
    """K2 leaves a day alone when its only files are the parts of ONE
    split output (a merge would rewrite the same parts under a day-level
    name) and counts it in ``skipped_singletons``. A file of another
    stem in that day makes it a merge again."""
    from kompactor_spark.compaction import CompactionConfig

    root = str(tmp_path / "gensplit")
    b = FX.basic_hour(root)
    cfg = CompactionConfig(max_desired_file_size_bytes=4000)
    parts = run_job(spark, root, config=cfg).results[0].output_paths
    assert len(parts) >= 2

    gen = CompactionJob(spark, root, [FX.HOST], config=cfg).run_generation()[0]
    assert (gen.planned_groups, gen.compacted_groups, gen.skipped_singletons) == (0, 0, 1)
    assert sorted(f.path for _, _, _, f in catalog_files(root)) == sorted(parts)

    h15 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS) + 3600 * FX.NS
    extra = b.add_parquet(0, 3, "2025-01-26", 15, "0000000009.parquet", FX.make_rows(20, h15, 1000 * FX.NS, seed=9))
    extra["info"]["id"] = 1000  # above the ids the hour pass handed out
    b.write_snapshot("0002.info.json", entries=[extra])
    before = rows_by_table(root)
    gen = CompactionJob(spark, root, [FX.HOST], config=cfg).run_generation()[0]
    assert (gen.compacted_groups, gen.skipped_singletons) == (1, 0)
    (res,) = gen.results
    assert sorted(res.input_paths) == sorted(parts + [extra["info"]["path"]])
    assert all("_g" in os.path.basename(p) for p in res.output_paths)
    assert rows_by_table(root) == before
    assert_invariants(root)
    assert CompactionJob(spark, root, [FX.HOST], config=cfg).run_generation()[0].compacted_groups == 0


def test_oversized_output_splits(spark, tmp_path):
    """D2/D3: projected output above the large cutoff splits 70/30 by
    time into _p<i> parts; conservation + invariants hold."""
    from kompactor_spark.compaction import CompactionConfig

    root = str(tmp_path / "split")
    FX.basic_hour(root)
    before = rows_by_table(root)
    cfg = CompactionConfig(max_desired_file_size_bytes=4000)  # large cutoff 5200 B
    report = run_job(spark, root, config=cfg)
    assert report.compacted_groups == 1
    outs = report.results[0].output_paths
    assert len(outs) >= 2, f"expected a split, got {outs}"
    assert all("_p" in os.path.basename(p) for p in outs)
    assert rows_by_table(root) == before
    assert_invariants(root)
    # parts cover disjoint, increasing time ranges
    metas = []
    for p in sorted(outs):
        t = pq.read_table(os.path.join(root, p), columns=["time"]).column("time").to_pylist()
        if t:
            metas.append((min(t), max(t)))
    for (lo1, hi1), (lo2, hi2) in zip(metas, metas[1:]):
        assert hi1 < lo2


def test_compute_split_cuts_unit():
    from kompactor_spark.compaction import CompactionConfig, compute_split_cuts

    cfg = CompactionConfig()  # 100 MiB target, 130 MiB large cutoff
    assert compute_split_cuts(0, 1000, 50 * 1024 * 1024, cfg) == []
    cuts = compute_split_cuts(0, 1000, 200 * 1024 * 1024, cfg)
    assert cuts == [700]  # one 70/30 cut; 30% tail (60 MiB) fits
    big = compute_split_cuts(0, 10_000, 1000 * 1024 * 1024, cfg)
    assert len(big) >= 2 and big == sorted(big)


def test_parallel_group_execution(spark, tmp_path):
    """parallelism=4 (concurrent batch jobs): identical results +
    invariants; catalog writes serialized by the meta lock."""
    root = str(tmp_path / "par")
    FX.multi_hour(root)
    before = rows_by_table(root)
    report = run_job(spark, root, parallelism=4)
    assert report.compacted_groups == 2
    assert rows_by_table(root) == before
    assert_invariants(root)
    # fresh ids unique across concurrently-compacted groups
    ids = [f.id for _, _, _, f in catalog_files(root)]
    assert len(ids) == len(set(ids))


def test_schema_drift_keeps_every_column(spark, tmp_path):
    """A field only some of an hour's files carry survives compaction,
    null where a file lacked it (a single file's schema used to win and
    the column was dropped before the sources were deleted). The drift
    group is a batch of its own, beside a same-schema group."""
    import pyarrow as pa

    root = str(tmp_path / "drift")
    b = FX.LayoutBuilder(root)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000001.parquet", FX.make_rows(20, h14, 1000 * FX.NS, seed=1))
    extra = FX.make_rows(15, h14 + 5 * FX.NS, 1000 * FX.NS, seed=2)
    extra = extra.append_column("f_new", pa.array(range(100, 115), pa.int64()))
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000002.parquet", extra)
    for wal in (3, 4):
        rows = FX.make_rows(10, h14 + 3600 * FX.NS + wal * FX.NS, 1000 * FX.NS, seed=wal)
        b.add_parquet(0, 3, "2025-01-26", 15, f"{wal:010d}.parquet", rows)
    b.write_snapshot()

    report = run_job(spark, root, parallelism=2)
    assert report.compacted_groups == 2
    drift = next(r for r in report.results if r.key[4] == "14")
    (out_rel,) = drift.output_paths
    tbl = pq.read_table(os.path.join(root, out_rel))
    assert tbl.column_names == FX.data_schema().names + ["f_new"]
    f_new = tbl.column("f_new").to_pylist()
    assert sorted(v for v in f_new if v is not None) == list(range(100, 115))
    assert f_new.count(None) == 20
    assert_invariants(root)


def test_split_leaves_empty_part_out(spark, tmp_path):
    """Sparse data under a small size target: rows only at the two ends
    of the hour, so the middle split part is empty. It gets no file and
    no catalog entry; the others carry exact footer stats; a second
    pass leaves the parts of one split alone (P1)."""
    from kompactor_spark.compaction import CompactionConfig, compute_split_cuts

    root = str(tmp_path / "sparse")
    b = FX.LayoutBuilder(root)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    for i, t0 in enumerate([h14, h14 + 3590 * FX.NS, h14 + 2 * FX.NS]):
        b.add_parquet(0, 3, "2025-01-26", 14, f"{i + 1:010d}.parquet", FX.make_rows(40, t0, 10 * FX.NS, seed=i))
    b.write_snapshot()
    cfg = CompactionConfig(max_desired_file_size_bytes=1000)
    files = [e["info"] for e in b.files]
    cuts = compute_split_cuts(
        min(f["min_time"] for f in files), max(f["max_time"] for f in files), sum(f["size_bytes"] for f in files), cfg
    )
    assert len(cuts) == 2  # three parts; only the first and last hold rows

    before = rows_by_table(root)
    report = run_job(spark, root, config=cfg)
    (res,) = report.results
    assert [os.path.basename(p)[-11:] for p in res.output_paths] == ["_p0.parquet", "_p2.parquet"]
    assert res.row_count == 120
    cataloged = sorted(f.path for _, _, _, f in catalog_files(root))
    assert cataloged == sorted(res.output_paths)
    assert rows_by_table(root) == before
    assert_invariants(root)
    assert run_job(spark, root, config=cfg).compacted_groups == 0


def hour_groups(root, n):
    """``n`` one-schema (table, hour) groups of two or three files."""
    b = FX.LayoutBuilder(root)
    wal = 1
    for g in range(n):
        table, hour = 3 + g // 2, 11 + g % 2
        hstart = (FX.BASE_NS // (3600 * FX.NS) + hour) * 3600 * FX.NS
        for i in range(2 + g % 2):
            rows = FX.make_rows(25, hstart + i * 5 * FX.NS, 2000 * FX.NS, seed=wal)
            b.add_parquet(0, table, "2025-01-26", hour, f"{wal:010d}.parquet", rows)
            wal += 1
    b.write_snapshot()
    return b


def last_job(sc) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def test_one_schema_pass_is_one_batch(spark, tmp_path):
    """Shape pin: a 4-group, one-schema pass runs exactly 2 Spark jobs
    (schema inference + the write), and the write plan sorts once — the
    within-partition (__out, time) sort, so V1Writes adds no sort of its
    own — with no Exchange: one task per group, time order kept."""
    root = str(tmp_path / "four")
    hour_groups(root, 4)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)

    before = last_job(sc)
    report = run_job(spark, root)
    assert report.compacted_groups == 4
    write = last_job(sc)
    assert write - before == 2
    tracker = sc.statusTracker()
    assert [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(write).stageIds] == [4]

    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = executions.apply(executions.size() - 1).physicalPlanDescription()
    tree = plan.split("\n\n")[0]
    assert "InsertIntoHadoopFsRelationCommand" in tree, tree
    assert tree.count("Sort (") == 1 and "Exchange" not in tree, tree
    assert tree.count("Coalesce (") == 4, tree
    assert "Arguments: [__out#" in plan and "ASC NULLS FIRST, time#" in plan, plan
    assert_invariants(root)


def test_concurrent_batches_stress(spark, tmp_path):
    """Six schemas make six batches; eight submitting threads (more than
    cores) commit them through the shared in-memory catalog with a short
    thread switch interval. A lost catalog update would drop an entry,
    repeat a file id or leave a dangling path."""
    import sys

    import pyarrow as pa

    root = str(tmp_path / "stress")
    b = FX.LayoutBuilder(root)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    wal = 1
    for table in range(6):
        for _ in range(3):
            rows = FX.make_rows(12, h14 + wal * FX.NS, 1000 * FX.NS, seed=wal)
            rows = rows.append_column(f"f_t{table}", pa.array([table] * 12, pa.int64()))
            b.add_parquet(0, table, "2025-01-26", 14, f"{wal:010d}.parquet", rows)
            b.write_snapshot(f"{wal:04d}.info.json", entries=b.files[-1:])
            wal += 1
    before = rows_by_table(root)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        report = run_job(spark, root, parallelism=8)
    finally:
        sys.setswitchinterval(interval)
    assert report.compacted_groups == 6
    assert rows_by_table(root) == before
    assert_invariants(root)
    entries = catalog_files(root)
    assert len(entries) == 6 * 3  # each output listed by the 3 snapshots of its inputs
    ids = {f.path: f.id for _, _, _, f in entries}
    assert len(ids) == len(set(ids.values())) == 6


def test_pass_keeps_off_the_callers_session(spark, tmp_path, monkeypatch):
    """The union setting a pass needs is made on a session of the pass's
    own, never on the caller's, which other threads share; the pass's
    session starts from the caller's runtime conf."""
    from kompactor_spark.compaction import job

    key = "spark.sql.unionOutputPartitioning"
    root = str(tmp_path / "session")
    hour_groups(root, 2)
    before = spark.conf.get(key, None)
    seen = []
    write_batch = job.CompactionJob._write_batch

    def spy(self, session, batch, batch_dir):
        seen.append((session.conf.get(key), session.conf.get("spark.kompactor.probe", None), spark.conf.get(key, None)))
        return write_batch(self, session, batch, batch_dir)

    monkeypatch.setattr(job.CompactionJob, "_write_batch", spy)
    spark.conf.set("spark.kompactor.probe", "on")
    try:
        assert run_job(spark, root).compacted_groups == 2
    finally:
        spark.conf.unset("spark.kompactor.probe")
    assert seen == [("false", "on", before)]
    assert spark.conf.get(key, None) == before
    assert_invariants(root)


def test_output_is_zstd(spark, tmp_path):
    """Sink policy: compacted output row groups are ZSTD-compressed
    (reference COPY option, kompactor.ts:109)."""
    root = str(tmp_path / "zstd")
    FX.basic_hour(root)
    report = run_job(spark, root)
    (out_rel,) = report.results[0].output_paths
    md = pq.ParquetFile(os.path.join(root, out_rel)).metadata
    codecs = {md.row_group(rg).column(0).compression for rg in range(md.num_row_groups)}
    assert codecs == {"ZSTD"}


# --------------------------------------------------------------------------
# Catalog-scoped reads: time travel + stats-based file skipping
# --------------------------------------------------------------------------
def test_catalog_read_time_travel_and_skipping(spark, tmp_path):
    from kompactor_spark.compaction.readers import files_as_of, read_table, snapshot_ids

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h10 = (FX.BASE_NS // (3600 * FX.NS) + 10) * 3600 * FX.NS
    h12 = (FX.BASE_NS // (3600 * FX.NS) + 12) * 3600 * FX.NS
    for i in range(2):
        b.add_parquet(0, 3, "2025-01-26", 10, f"{i + 1:010d}.parquet",
                      FX.make_rows(40, h10 + i * 5 * FX.NS, 2000 * FX.NS, seed=i))
    b.add_parquet(0, 4, "2025-01-26", 10, "0000000099.parquet",
                  FX.make_rows(10, h10, 1000 * FX.NS, seed=9))
    b.write_snapshot("0001.info.json")
    later = [b.add_parquet(0, 3, "2025-01-26", 12, "0000000010.parquet",
                           FX.make_rows(25, h12, 2000 * FX.NS, seed=5))]
    b.write_snapshot("0002.info.json", entries=later)

    assert snapshot_ids(root, FX.HOST) == [1, 2]
    # time travel: snapshot 1 predates the hour-12 file
    assert len(files_as_of(root, FX.HOST, db=0, table=3, as_of=1)) == 2
    assert len(files_as_of(root, FX.HOST, db=0, table=3)) == 3
    assert read_table(spark, root, FX.HOST, 0, 3, as_of=1).count() == 80
    assert read_table(spark, root, FX.HOST, 0, 3).count() == 105
    # table filter: table 4 is its own manifest
    assert read_table(spark, root, FX.HOST, 0, 4).count() == 10

    # file skipping: an hour-12 range prunes the manifest to ONE file
    # on catalog stats alone, and the residual row filter keeps exactness
    pruned = files_as_of(root, FX.HOST, db=0, table=3,
                         min_time_ns=h12, max_time_ns=h12 + 3600 * FX.NS)
    assert len(pruned) == 1 and "/12-00/" in pruned[0].path
    got = read_table(spark, root, FX.HOST, 0, 3,
                     min_time_ns=h12, max_time_ns=h12 + 3600 * FX.NS).count()
    full = (read_table(spark, root, FX.HOST, 0, 3)
            .where(f"time >= {h12} and time <= {h12 + 3600 * FX.NS}").count())
    assert got == full == 25

    with pytest.raises(FileNotFoundError):
        read_table(spark, root, FX.HOST, 0, 3, as_of=0)


def test_catalog_read_consistent_through_compaction(spark, tmp_path):
    """K3 × K1: a catalog-scoped read returns the same row multiset
    before and after the hour pass rewrites files + snapshots (the
    manifest follows the rewrite; no stale or dangling paths)."""
    from kompactor_spark.compaction.readers import files_as_of, read_table

    root = str(tmp_path)
    FX.basic_hour(root)

    def snapshot_rows():
        df = read_table(spark, root, FX.HOST, 0, 3)
        return sorted((r.time, r.f_int, r.f_str) for r in df.collect())

    before_rows = snapshot_rows()
    n_before = len(files_as_of(root, FX.HOST, db=0, table=3))
    run_job(spark, root)
    assert len(files_as_of(root, FX.HOST, db=0, table=3)) < n_before  # merged
    assert snapshot_rows() == before_rows


def test_expire_snapshots_folds_history(spark, tmp_path):
    """Snapshot expiry folds N snapshot files into one with an
    identical file manifest (state preserved, history horizon moved);
    fsck stays clean and pre-expiry as_of now raises."""
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.readers import (
        expire_snapshots,
        files_as_of,
        read_table,
        snapshot_ids,
    )

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h10 = (FX.BASE_NS // (3600 * FX.NS) + 10) * 3600 * FX.NS
    e1 = [b.add_parquet(0, 3, "2025-01-26", 10, "0000000001.parquet",
                        FX.make_rows(30, h10, 2000 * FX.NS, seed=1))]
    b.write_snapshot("0001.info.json", e1)
    e2 = [b.add_parquet(0, 3, "2025-01-26", 11, "0000000002.parquet",
                        FX.make_rows(20, h10 + 3600 * FX.NS, 2000 * FX.NS, seed=2))]
    b.write_snapshot("0002.info.json", e2)

    before = {f.path for f in files_as_of(root, FX.HOST)}
    rep = expire_snapshots(root, FX.HOST)
    assert rep["merged"] == 2 and rep["kept"] == 1
    assert snapshot_ids(root, FX.HOST) == [3]
    assert {f.path for f in files_as_of(root, FX.HOST)} == before
    assert read_table(spark, root, FX.HOST, 0, 3).count() == 50
    assert fsck_host(root, FX.HOST).ok
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, FX.HOST, 0, 3, as_of=2)  # horizon moved
    # idempotent second call is a no-op
    assert expire_snapshots(root, FX.HOST) == {"merged": 0, "kept": 1}


def test_cli_time_window_hours(spark, tmp_path, capsys):
    """--time-window-hours reaches generation planning (reference D4:
    timeWindowHours was declared but unwired in kompactor.ts:29,41)."""
    from kompactor_spark.cli import main

    root = str(tmp_path / "genwin")
    FX.multi_hour(root)
    run_job(spark, root)
    snaps = [read_snapshot(p) for p in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))]
    max_t = max(f.max_time for s in snaps for _, _, f in s.all_files())
    now = max_t + 3 * 3600 * FX.NS  # 3 h after the newest row

    # default 24 h window: the day is still hot -> nothing compacts
    rc = main([root, "--hosts", FX.HOST, "--generation", "--now-ns", str(now)], spark=spark)
    assert rc == 0
    assert "compacted 0/0 groups" in capsys.readouterr().out

    # 2 h window: the same day is now cold -> generation merge runs
    rc = main(
        [root, "--hosts", FX.HOST, "--generation", "--now-ns", str(now),
         "--time-window-hours", "2"],
        spark=spark,
    )
    assert rc == 0
    assert "compacted 1/1 groups" in capsys.readouterr().out
