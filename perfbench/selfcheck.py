"""Show that every output check of the benchmark fails on a
deliberately corrupted output.

    python3 perfbench/selfcheck.py

Run it from the repository root. It compacts a small generated hourly
layout, confirms the clean output passes every check, then corrupts
copies of the output one way at a time and reports which checks fired.
For the analytics mix it perturbs one query result. Exits 1 when a
corruption goes unnoticed by the check meant to catch it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench", "selfcheck")


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import layout
    import mixdata
    from kompactor_spark.compaction import CompactionJob, fsck, readers
    from kompactor_spark.compaction.metadata import read_snapshot, write_snapshot_atomic
    from kompactor_spark.queries import all_queries
    from kompactor_spark.session import get_spark
    from pyspark.sql import functions as F

    from run import stop_spark

    spec = layout.LayoutSpec(tables=2, hours=2, files_per_group=3, rows_per_file=500, snapshots=3)
    shutil.rmtree(WORK, ignore_errors=True)
    pristine, clean = os.path.join(WORK, "pristine"), os.path.join(WORK, "clean")
    inputs = layout.generate(spec, 11, pristine)
    shutil.copytree(pristine, clean)
    spark = get_spark(app_name="perfbench-selfcheck")
    rows = []
    try:
        reports = CompactionJob(spark, clean, [layout.HOST]).run()
        first = reports[0].results[0]
        out_rel = first.output_paths[0]
        table = layout.group_of(first.key)[0]
        times = layout.read_output(os.path.join(clean, out_rel)).column("time").to_numpy()
        lo, hi = int(times[10]), int(times[-10])

        def checks(data: str, scan_row=None) -> dict[str, bool]:
            """Which checks fail on the output under ``data``."""
            outputs = layout.check_outputs(inputs, data, reports)
            if scan_row is None:
                df = readers.read_table(spark, data, layout.HOST, 0, table, min_time_ns=lo, max_time_ns=hi)
                scan_row = df.agg(F.count(F.lit(1)), F.sum("f_int"), F.min("time"), F.max("time")).collect()[0]
            return {
                "fsck": not fsck.fsck_host(data, layout.HOST).ok,
                "multiset": any("multiset" in p for p in outputs),
                "sorted": any("sorted" in p for p in outputs),
                "scan": layout.scan_problem(inputs, table, lo, hi, scan_row) is not None,
            }

        def variant(name: str, rewrite=None, fix_catalog: bool = False, extra=None, scan_row=None) -> dict:
            d = os.path.join(WORK, name)
            shutil.copytree(clean, d)
            path = os.path.join(d, out_rel)
            if rewrite is not None:
                pq.write_table(rewrite(pq.read_table(path)), path, compression="zstd")
            if fix_catalog:
                _refit_catalog(d, out_rel, read_snapshot, write_snapshot_atomic)
            if extra is not None:
                extra(d)
            return checks(d, scan_row)

        def drop_row(t: pa.Table) -> pa.Table:
            return pa.concat_tables([t.slice(0, 20), t.slice(21)])

        def bump_value(t: pa.Table) -> pa.Table:
            f = t.column("f_int").to_numpy().copy()
            f[20] += 1
            return t.set_column(t.schema.get_field_index("f_int"), "f_int", pa.array(f))

        def swap_rows(t: pa.Table) -> pa.Table:
            idx = np.arange(t.num_rows)
            idx[[20, 30]] = idx[[30, 20]]
            return t.take(pa.array(idx))

        def orphan(d: str) -> None:
            shutil.copy(os.path.join(d, out_rel), os.path.join(os.path.dirname(os.path.join(d, out_rel)), "stray.parquet"))

        rows.append(("clean output", checks(clean), set()))
        rows.append(("drop a row from a compacted file", variant("drop", drop_row), {"fsck", "multiset", "scan"}))
        rows.append(("drop a row, catalog refitted", variant("drop_fit", drop_row, True), {"multiset", "scan"}))
        rows.append(("change one value, catalog refitted", variant("bump", bump_value, True), {"multiset", "scan"}))
        rows.append(("swap two rows, catalog refitted", variant("swap", swap_rows, True), {"sorted"}))
        rows.append(("orphan file in the data dir", variant("orphan", extra=orphan), {"fsck"}))
        df = readers.read_table(spark, clean, layout.HOST, 0, table, min_time_ns=lo, max_time_ns=hi)
        clean_row = df.agg(F.count(F.lit(1)), F.sum("f_int"), F.min("time"), F.max("time")).collect()[0]
        perturbed = (clean_row[0], clean_row[1] + 1, clean_row[2], clean_row[3])
        rows.append(("perturb a scan result", variant("scanres", scan_row=perturbed), {"scan"}))

        mix = os.path.join(WORK, "mix")
        mixdata.generate(mix)
        with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as fh:
            stored = json.load(fh)["queries"]
        name = "x23_max_concurrency"
        pdf = all_queries()[name](spark, mix).toPandas()
        rows.append((f"{name} result as computed", {"digest": mixdata.result_digest(pdf) != stored[name]}, set()))
        pdf.loc[0, "peak_concurrency"] += 1
        rows.append((f"{name} result perturbed", {"digest": mixdata.result_digest(pdf) != stored[name]}, {"digest"}))
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    bad = 0
    for name, fired, expected in rows:
        got = {k for k, v in fired.items() if v}
        status = "ok" if got == expected else "UNEXPECTED"
        bad += status != "ok"
        print(f"{status:10} {name:40} failed checks: {sorted(got) or '-'}")
    return 1 if bad else 0


def _refit_catalog(data_dir: str, rel: str, read_snapshot, write_snapshot_atomic) -> None:
    """Make the catalog agree with a rewritten file (size, rows, time
    range), so that only the data checks can see the change."""
    md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
    times = pq.read_table(os.path.join(data_dir, rel), columns=["time"]).column("time").to_numpy()
    for sp in glob.glob(os.path.join(data_dir, "*", "snapshots", "*.info.json")):
        snap = read_snapshot(sp)
        hit = False
        for _db, _t, f in snap.all_files():
            if f.path == rel:
                f.size_bytes = os.path.getsize(os.path.join(data_dir, rel))
                f.row_count = md.num_rows
                f.min_time, f.max_time = int(times.min()), int(times.max())
                hit = True
        if hit:
            snap.recompute_totals()
            write_snapshot_atomic(snap, sp)


if __name__ == "__main__":
    sys.exit(main())
