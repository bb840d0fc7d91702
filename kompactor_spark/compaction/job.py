"""Compaction job execution (SURVEY §2.B K1/K2).

Data plane: the reference's one query per hour (kompactor.ts:107-111:
read_parquet([...]) ORDER BY time → one zstd Parquet file) re-expressed
so that ONE Spark job writes every group of a pass whose input files
share a footer schema (a "batch"):

- each group is read as ``spark.read.schema(S).parquet(*files)`` (B9
  fixed: list API), coalesced to one partition and tagged with its
  output index ``__out``. A 70/30 split only changes the index
  (``base + Σ(time > cut)``), so a split reads its inputs once;
- the groups' union is sorted with ``sortWithinPartitions("__out",
  time)`` and written with ``partitionBy("__out")`` into the pass
  staging dir ``<host>/.staging``: one task per group, no shuffle, one
  file per non-empty output (an empty split part gets no file).

A batch costs two jobs: one schema inference and the write. A group
whose files disagree on the schema gets its own batch, read with
``mergeSchema`` so no column is dropped. ``parallelism`` is the number
of batch jobs run at once. The jobs run on a session of the pass's own
(``_pass_session``), so the union setting they need never reaches the
caller's session.

Batching pays off when groups share a footer schema, e.g. one table's
hours, or tables written with one schema. A pass whose every group has
a schema of its own still costs two jobs per group.

The pass reads the host's snapshot catalog once and keeps it in
memory (path → snapshots listing it, next free file id); every commit
updates it and rewrites only the snapshots that list the group's files.

Commit protocol, per group (B7 fixed — the reference deleted sources
BEFORE rewriting metadata and wrote JSON non-atomically):
    1. journal the group's inputs and outputs in ``<host>/.staging``,
       then rename each staged output into place
    2. verify from the output footers: rows (conservation), time
       min/max (exact ints, B3) and the real size on disk (B6)
    3. rewrite the snapshots listing the group's files (tmp+fsync+rename
       each): gather the group's entries into the first of them, strip
       them from the others, swap them for the outputs in ONE atomic
       write of the first, then add the outputs to the others — a
       catalog read sees the pre-state up to the swap, the post-state
       after it
    4. only then delete the originals + prune empty dirs (C14), and
       drop the journal
A crash at any point leaves a catalog that references only existing
files. The next pass reads the journals left in ``<host>/.staging``
before clearing it: a group whose outputs reached the catalog is rolled
forward (its leftover inputs deleted), any other rolled back (its
renamed outputs deleted). ``<host>/.staging`` lies outside
``<host>/dbs``, so fsck, catalog reads and bootstrap never see it.

Dry-run is real (B1 fixed): plan + report, zero writes.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil
import threading
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kompactor_spark.compaction.metadata import (
    ParquetFileInfo,
    SnapshotMetadata,
    footer_time_stats,
    read_snapshot,
    write_json_atomic,
    write_snapshot_atomic,
)
from kompactor_spark.compaction.planner import (
    CompactionConfig,
    CompactionGroup,
    GenerationGroup,
    compute_split_cuts,
    plan_compaction,
    plan_generation,
)

log = logging.getLogger("kompactor_spark.compaction")

OUT = "__out"  # output-index column: one value per output file of a batch
STAGING = ".staging"  # pass staging dir under <host>/


@dataclass
class GroupResult:
    key: tuple
    output_paths: list[str]
    row_count: int
    min_time: int
    max_time: int
    input_paths: list[str]
    dropped_missing: list[str] = field(default_factory=list)


@dataclass
class CompactionReport:
    host: str
    dry_run: bool
    planned_groups: int = 0
    compacted_groups: int = 0
    skipped_singletons: int = 0  # as CompactionPlan counts them
    results: list[GroupResult] = field(default_factory=list)


@dataclass
class _Work:
    """One planned group with its inputs on disk, split cuts and the
    first output index of the group within its batch."""

    index: int  # position in the plan
    group: CompactionGroup | GenerationGroup
    existing: list[ParquetFileInfo]
    dropped: list[str]
    cuts: list[int]
    base: int = 0
    drift: bool = False  # its files disagree on the footer schema

    @property
    def key(self) -> tuple:
        k = self.group.key
        return (k.host, k.db_seg, k.table_seg, k.date, k.hour)

    def part_relpath(self, part: int) -> str:
        out = self.group.output_relpath()
        return out.replace(".parquet", f"_p{part}.parquet") if self.cuts else out


class _Catalog:
    """A host's snapshots, read once per pass and kept in step with every
    commit: which snapshots list each file path, and the next free id."""

    def __init__(self, snap_paths: list[str]):
        self.snaps: dict[str, SnapshotMetadata] = {sp: read_snapshot(sp) for sp in snap_paths}
        self.listed_in: dict[str, list[str]] = defaultdict(list)
        for sp, snap in self.snaps.items():
            for _db, _tbl, f in snap.all_files():
                if sp not in self.listed_in[f.path]:
                    self.listed_in[f.path].append(sp)
        self.next_id = max((s.max_file_id() for s in self.snaps.values()), default=0) + 1

    def take_id(self) -> int:
        """Fresh ids (B6: the reference reused sortedFiles[0].id)."""
        self.next_id += 1
        return self.next_id - 1

    def replace(self, old: set[str], new_infos: list[ParquetFileInfo]) -> None:
        """Swap the entries of ``old`` for ``new_infos`` in every snapshot
        listing them, so that a catalog read (the union over snapshots)
        sees the pre-state until one atomic write and the post-state
        after it. The target of that write is the first snapshot listing
        an old entry. Only ENTRIES change; everything else in a snapshot
        is kept (B4 fixed: the reference replaced the whole table list).
        """
        holders = sorted({sp for p in old for sp in self.listed_in.get(p, ())})
        homes = {
            sp: next((db, tbl) for db, tbl, f in self.snaps[sp].all_files() if f.path in old) for sp in holders
        }
        target, others = holders[0], holders[1:]
        snap = self.snaps[target]
        # gather: the target lists every old entry (the union is unchanged)
        have = {f.path for _db, _tbl, f in snap.all_files()}
        gathered = {}
        for sp in others:
            for db, tbl, f in self.snaps[sp].all_files():
                if f.path in old and f.path not in have:
                    gathered.setdefault(f.path, (db, tbl, f))
        if gathered:
            for db, tbl, f in gathered.values():
                _add_entry(snap, db, tbl, f)
            self._write(target)
        # strip the others (the union is unchanged: the target lists all)
        for sp in others:
            _drop_entries(self.snaps[sp], old)
            self._write(sp)
        # flip: pre-state -> post-state in one atomic write
        _drop_entries(snap, old)
        for info in new_infos:
            _add_entry(snap, *homes[target], info)
        self._write(target)
        # every snapshot that listed a compacted file lists the outputs
        # (invisible to readers: the target already precedes them)
        for sp in others:
            for info in new_infos:
                _add_entry(self.snaps[sp], *homes[sp], info)
            self._write(sp)
        for p in old:
            self.listed_in.pop(p, None)
        for info in new_infos:
            self.listed_in[info.path] = list(holders)

    def _write(self, sp: str) -> None:
        snap = self.snaps[sp]
        snap.recompute_totals()
        write_snapshot_atomic(snap, sp)


def _add_entry(snap: SnapshotMetadata, db_id: int, table_id: int, info: ParquetFileInfo) -> None:
    for d, tables in snap.databases:
        if d == db_id:
            tables.setdefault(table_id, []).append(info)
            return
    snap.databases.append((db_id, {table_id: [info]}))


def _drop_entries(snap: SnapshotMetadata, paths: set[str]) -> None:
    for _db_id, tables in snap.databases:
        for table_id, files in tables.items():
            tables[table_id] = [f for f in files if f.path not in paths]


def _union_all(frames: list[DataFrame]) -> DataFrame:
    """Pairwise union: each ``union`` re-analyses the plan so far, so a
    left-deep chain costs O(n²) planning time (on 4 vCPU: 1.0 s for 200
    groups, 3.7 s for 400) where the balanced tree stays linear (0.3 s,
    0.4 s)."""
    while len(frames) > 1:
        pairs = [frames[i : i + 2] for i in range(0, len(frames), 2)]
        frames = [p[0].union(p[1]) if len(p) == 2 else p[0] for p in pairs]
    return frames[0]


def _pass_session(spark: SparkSession) -> SparkSession:
    """A session of the pass's own: it shares the SparkContext and
    starts from a copy of ``spark``'s SQL conf, so the setting below
    stays out of every other thread's queries. It keeps one union
    partition per single-partition child: Spark's partitioning-aware
    union would zip partition 0 of every ``coalesce(1)`` child into ONE
    task, running all groups of a batch serially. The setting changes
    only how unions are partitioned, never their rows."""
    session = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if session.conf.get(key, None) != value:
            session.conf.set(key, value)
    session.conf.set("spark.sql.unionOutputPartitioning", "false")
    return session


class CompactionJob:
    """Hour-level (K1) and generation-level (K2) compaction over an
    InfluxDB-3-style data dir (FIXTURES.md §2 layout)."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        hosts: list[str],
        config: CompactionConfig | None = None,
        dry_run: bool = False,
        time_col: str = "time",
        parallelism: int = 1,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.hosts = hosts
        self.config = config or CompactionConfig()
        self.dry_run = dry_run
        self.time_col = time_col
        # Concurrent batch jobs: batches of different schemas are
        # independent writes, so submitting them from threads lets Spark
        # overlap them.
        self.parallelism = max(1, parallelism)
        # The in-memory catalog and the deletions are shared by the
        # batches' commits (the writes themselves run in parallel).
        self._meta_lock = threading.Lock()

    # -- discovery ---------------------------------------------------------
    def validate_directories(self) -> None:
        """Reference preconditions (kompactor.ts:116-143)."""
        if not os.path.isdir(self.data_dir):
            raise FileNotFoundError(f"data dir missing: {self.data_dir}")
        for host in self.hosts:
            for sub in ("snapshots", "dbs"):
                p = os.path.join(self.data_dir, host, sub)
                if not os.path.isdir(p):
                    raise FileNotFoundError(f"required dir missing: {p}")

    def snapshot_paths(self, host: str) -> list[str]:
        return sorted(glob.glob(os.path.join(self.data_dir, host, "snapshots", "*.info.json")))

    # -- execution ---------------------------------------------------------
    def run(self, before_hour_ns: int | None = None) -> list[CompactionReport]:
        self.validate_directories()
        return [self._run_host(h, before_hour_ns=before_hour_ns) for h in self.hosts]

    def run_generation(self, now_ns: int | None = None) -> list[CompactionReport]:
        """K2: merge each eligible day's files (hour-compacted + stray
        raw) into generation-level ``c_…_g<day>`` outputs with size
        cutoffs + splits (reference D1-D4/D8). ``now_ns`` gates on the
        24 h window; None = backfill every day."""
        self.validate_directories()
        return [self._run_host(h, level="generation", now_ns=now_ns) for h in self.hosts]

    def _run_host(
        self,
        host: str,
        level: str = "hour",
        now_ns: int | None = None,
        before_hour_ns: int | None = None,
    ) -> CompactionReport:
        catalog = _Catalog(self.snapshot_paths(host))
        staging = os.path.join(self.data_dir, host, STAGING)
        if not self.dry_run:
            self._recover(staging, catalog)
            shutil.rmtree(staging, ignore_errors=True)
        snapshots = list(catalog.snaps.values())
        if level == "generation":
            plan = plan_generation(host, snapshots, self.config, now_ns=now_ns)
        else:
            plan = plan_compaction(host, snapshots, before_hour_ns=before_hour_ns)
        report = CompactionReport(
            host=host,
            dry_run=self.dry_run,
            planned_groups=len(plan.groups),
            skipped_singletons=plan.skipped_singletons,
        )
        work = [w for w in (self._prepare(i, g) for i, g in enumerate(plan.groups)) if w is not None]
        if self.dry_run:
            report.results = [self._dry_result(w) for w in work]
        else:
            batches = self._batches(work)
            session = _pass_session(self.spark) if batches else None

            def run_batch(numbered):
                i, batch = numbered
                batch_dir = os.path.join(staging, f"b{i}")
                self._write_batch(session, batch, batch_dir)
                return [(w.index, self._commit(staging, batch_dir, catalog, w)) for w in batch]

            if self.parallelism > 1 and len(batches) > 1:
                with ThreadPoolExecutor(max_workers=self.parallelism) as ex:
                    done = list(ex.map(run_batch, enumerate(batches)))
            else:
                done = [run_batch(b) for b in enumerate(batches)]
            shutil.rmtree(staging, ignore_errors=True)
            report.results = [r for _, r in sorted((r for rs in done for r in rs), key=lambda r: r[0])]
        report.compacted_groups = len(report.results)
        return report

    def _abs(self, rel: str) -> str:
        return os.path.join(self.data_dir, rel)

    def _prepare(self, index: int, group: CompactionGroup | GenerationGroup) -> _Work | None:
        sorted_files = group.sorted_files()
        existing = [f for f in sorted_files if os.path.exists(self._abs(f.path))]
        dropped = [f.path for f in sorted_files if not os.path.exists(self._abs(f.path))]
        for p in dropped:  # C13 semantics: warn and proceed
            log.warning("input missing on disk, skipping: %s", p)
        if len(existing) <= 1:
            return None
        cuts = compute_split_cuts(
            min(f.min_time for f in existing),
            max(f.max_time for f in existing),
            group.total_size_bytes,
            self.config,
        )
        return _Work(index, group, existing, dropped, cuts)

    def _dry_result(self, w: _Work) -> GroupResult:
        out_rel = w.group.output_relpath()
        log.info("[dry-run] would merge %d files -> %s", len(w.existing), out_rel)
        return GroupResult(
            key=w.key,
            output_paths=[out_rel],
            row_count=sum(f.row_count for f in w.existing),
            min_time=min(f.min_time for f in w.existing),
            max_time=max(f.max_time for f in w.existing),
            input_paths=[f.path for f in w.existing],
            dropped_missing=w.dropped,
        )

    def _batches(self, work: list[_Work]) -> list[list[_Work]]:
        """Groups keyed by footer schema (metadata stripped); a group
        whose files disagree is a batch of its own. Output indices are
        assigned per batch."""
        by_schema: dict[object, list[_Work]] = {}
        for w in work:
            schemas = {pq.read_schema(self._abs(f.path)).remove_metadata() for f in w.existing}
            w.drift = len(schemas) > 1
            key = ("drift", w.index) if w.drift else schemas.pop()
            by_schema.setdefault(key, []).append(w)
        batches = list(by_schema.values())
        for batch in batches:
            base = 0
            for w in batch:
                w.base = base
                base += len(w.cuts) + 1
        return batches

    # ---- 1. one write job per batch ------------------------------------------
    def _write_batch(self, session: SparkSession, batch: list[_Work], batch_dir: str) -> None:
        files = [[self._abs(f.path) for f in w.existing] for w in batch]
        if batch[0].drift:
            frames = [session.read.option("mergeSchema", "true").parquet(*files[0])]
        else:
            schema = session.read.parquet(files[0][0]).schema
            frames = [session.read.schema(schema).parquet(*paths) for paths in files]
        t = F.col(self.time_col)
        tagged = []
        for w, frame in zip(batch, frames):
            out = F.lit(w.base)
            for cut in w.cuts:
                out = out + (t > F.lit(cut)).cast("int")
            tagged.append(frame.coalesce(1).withColumn(OUT, out))
        (
            _union_all(tagged)
            .sortWithinPartitions(OUT, self.time_col)
            .write.mode("overwrite")
            .partitionBy(OUT)
            .option("compression", self.config.compression)
            .option("parquet.page.row.count.limit", str(self.config.row_group_rows))
            .parquet(batch_dir)
        )

    # ---- 2-4. per-group commit -----------------------------------------------
    def _commit(self, staging: str, batch_dir: str, catalog: _Catalog, w: _Work) -> GroupResult:
        staged = []  # (final rel path, staged abs path)
        for part in range(len(w.cuts) + 1):
            written = glob.glob(os.path.join(batch_dir, f"{OUT}={w.base + part}", "*.parquet"))
            if len(written) > 1:
                # kernel guard (survives python -O): the atomic rename
                # below moves one file per output; more would drop data
                raise RuntimeError(f"expected one file per output, got {written}")
            if written:
                staged.append((w.part_relpath(part), written[0]))
        out_rel = w.group.output_relpath()
        if not staged:
            raise RuntimeError(f"no output written for {out_rel}")
        inputs = [f.path for f in w.existing]
        outputs = [rel for rel, _ in staged]

        # 1. journal, then rename into place
        journal = os.path.join(staging, f"commit-{w.index}.json")
        write_json_atomic({"inputs": inputs, "outputs": outputs}, journal)
        for rel, src in staged:
            os.makedirs(os.path.dirname(self._abs(rel)), exist_ok=True)
            os.replace(src, self._abs(rel))

        # 2. verify from the output footers
        stats = [footer_time_stats(self._abs(rel), self.time_col) for rel in outputs]
        for rel, (_rows, tmin, tmax) in zip(outputs, stats):
            if tmin is None or tmax is None:
                raise RuntimeError(f"output {rel} has no {self.time_col} min/max in its footer")
        rows = sum(s[0] for s in stats)
        if not w.dropped:
            expected_rows = sum(f.row_count for f in w.existing)
            if expected_rows != rows:
                raise RuntimeError(
                    f"row conservation violated for {out_rel}: inputs={expected_rows} output={rows}"
                )

        # 3+4 under the catalog lock: id allocation, snapshot rewrite
        # (BEFORE deletion — B7), deletion
        with self._meta_lock:
            infos = [
                ParquetFileInfo(
                    id=catalog.take_id(),
                    path=rel,
                    size_bytes=os.path.getsize(self._abs(rel)),  # B6: real size
                    row_count=p_rows,
                    chunk_time=w.existing[0].chunk_time,
                    min_time=p_min,
                    max_time=p_max,
                )
                for rel, (p_rows, p_min, p_max) in zip(outputs, stats)
            ]
            catalog.replace(set(inputs), infos)
            for rel in inputs:
                if rel not in outputs:
                    os.unlink(self._abs(rel))
                    self._remove_empty_dirs_upward(os.path.dirname(self._abs(rel)))
        os.unlink(journal)

        return GroupResult(
            key=w.key,
            output_paths=outputs,
            row_count=rows,
            min_time=min(i.min_time for i in infos),
            max_time=max(i.max_time for i in infos),
            input_paths=inputs,
            dropped_missing=w.dropped,
        )

    def _recover(self, staging: str, catalog: _Catalog) -> None:
        """Finish the commits a crashed pass left journaled: roll a group
        forward when its outputs are cataloged (delete leftover inputs),
        back otherwise (delete renamed outputs). Cataloged files are
        never deleted."""
        for path in sorted(glob.glob(os.path.join(staging, "commit-*.json"))):
            with open(path, encoding="utf-8") as fh:
                entry = json.load(fh)
            committed = all(p in catalog.listed_in for p in entry["outputs"])
            for rel in entry["inputs"] if committed else entry["outputs"]:
                if rel not in catalog.listed_in and os.path.exists(self._abs(rel)):
                    log.warning("removing leftover of an interrupted commit: %s", rel)
                    os.unlink(self._abs(rel))
                    self._remove_empty_dirs_upward(os.path.dirname(self._abs(rel)))

    def _remove_empty_dirs_upward(self, d: str) -> None:
        """kompactor.ts:5-17 semantics, stopping at the data dir."""
        root = os.path.abspath(self.data_dir)
        d = os.path.abspath(d)
        while d.startswith(root) and d != root:
            try:
                os.rmdir(d)  # fails (caught) if non-empty
            except OSError:
                return
            d = os.path.dirname(d)
