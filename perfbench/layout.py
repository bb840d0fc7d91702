"""Generated InfluxDB-3 layouts for the compaction workloads, and the
checks their compacted outputs must pass.

A layout is ``<root>/<host>/{snapshots,dbs}/...`` as FIXTURES.md §2
describes it: raw WAL files (``<seq>.parquet``) under
``dbs/db-0/table-<T>/<date>/<HH>-00/``, listed across numbered
``*.info.json`` snapshots in WAL order. Everything derives from one
seed through numpy's PCG64 stream, so one seed gives byte-identical
files.

Expected results are computed from the generated arrays, never from
the program: a per-group row-multiset digest (order-free, so a sorted
rewrite must reproduce it exactly) and per-table sorted time / f_int
arrays that answer any time-range aggregate.
"""

from __future__ import annotations

import calendar
import datetime
import glob
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOST = "host-a"
NS = 1_000_000_000
HOUR_NS = 3600 * NS
DATE = "2025-01-26"
DAY_NS = calendar.timegm(datetime.date.fromisoformat(DATE).timetuple()) * NS
SCHEMA = pa.schema(
    [
        ("time", pa.int64()),
        ("tag1", pa.string()),
        ("tag2", pa.string()),
        ("f_int", pa.int64()),
        ("f_dbl", pa.float64()),
        ("f_str", pa.string()),
    ]
)
TAG1 = [f"sensor-{i}" for i in range(10)]
TAG2 = [f"loc-{i}" for i in range(3)]
F_STR = [f"v{i}" for i in range(100)]
DICTS = {"tag1": TAG1, "tag2": TAG2, "f_str": F_STR}  # the string columns and their values


@dataclass(frozen=True)
class LayoutSpec:
    """Shape of one generated layout: one (table, hour) group per
    table and hour, each of ``files_per_group`` WAL files."""

    tables: int
    hours: int
    files_per_group: int
    rows_per_file: int
    snapshots: int


@dataclass
class Inputs:
    """What a generation produced, and the answers checks compare to."""

    spec: LayoutSpec
    digest: str = ""
    sizes: dict = field(default_factory=dict)
    # (table, hour) -> multiset digest of the rows that group holds
    group_digests: dict = field(default_factory=dict)
    # table -> (times sorted, f_int in the same order)
    table_rows: dict = field(default_factory=dict)


# -- row multiset digests ---------------------------------------------------
_M = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _str_hashes(values: list) -> np.ndarray:
    return np.array(
        [int.from_bytes(hashlib.blake2b(str(v).encode(), digest_size=8).digest(), "little") for v in values],
        dtype=np.uint64,
    )


def _column_u64(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    if isinstance(col, pa.ChunkedArray):
        parts = [_column_u64(c) for c in col.chunks]
        return np.concatenate(parts) if parts else np.zeros(0, np.uint64)
    if pa.types.is_dictionary(col.type):
        return _str_hashes(col.dictionary.to_pylist())[col.indices.to_numpy(zero_copy_only=False)]
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return _column_u64(col.dictionary_encode())
    return np.ascontiguousarray(col.to_numpy(zero_copy_only=False)).view(np.uint64)


def row_hashes(tbl: pa.Table) -> np.ndarray:
    """One uint64 per row, independent of row order and of whether the
    string columns arrive dictionary-encoded."""
    h = np.zeros(tbl.num_rows, dtype=np.uint64)
    for i, name in enumerate(SCHEMA.names):
        h = _mix(h ^ (_column_u64(tbl.column(name)) + np.uint64(i + 1)))
    return h


def multiset_digest(hashes: np.ndarray) -> tuple[int, int, int]:
    """(rows, Σh, Σmix(h)) mod 2**64: equal for equal row multisets."""
    with np.errstate(over="ignore"):
        return (int(hashes.size), int(hashes.sum(dtype=np.uint64)), int(_mix(hashes ^ _M).sum(dtype=np.uint64)))


def combine(digests: list[tuple[int, int, int]]) -> tuple[int, int, int]:
    return (
        sum(d[0] for d in digests),
        sum(d[1] for d in digests) % 2**64,
        sum(d[2] for d in digests) % 2**64,
    )


def read_output(path: str) -> pa.Table:
    return pq.read_table(path, read_dictionary=list(DICTS))


# -- generation -------------------------------------------------------------
def _table(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = [
        pa.DictionaryArray.from_arrays(pa.array(cols[n]), pa.array(DICTS[n])).cast(pa.string())
        if n in DICTS
        else pa.array(cols[n])
        for n in SCHEMA.names
    ]
    return pa.Table.from_arrays(arrays, schema=SCHEMA)


def _snapshot_json(entries: list[tuple[int, dict]]) -> dict:
    tables: dict[int, list[dict]] = {}
    for table, info in entries:
        tables.setdefault(table, []).append(info)
    infos = [i for _, i in entries]
    return {
        "writer_id": HOST,
        "parquet_size_bytes": sum(i["size_bytes"] for i in infos),
        "row_count": sum(i["row_count"] for i in infos),
        "min_time": min(i["min_time"] for i in infos),
        "max_time": max(i["max_time"] for i in infos),
        "databases": [[0, {"tables": [[t, files] for t, files in sorted(tables.items())]}]],
    }


def generate(spec: LayoutSpec, seed: int, root: str) -> Inputs:
    """Write the layout under ``root`` and return its expected answers.

    WAL order is (hour, file, table): every flush writes one file per
    table, so a group's files carry interleaved sequence numbers and
    land in different snapshots, as with a real writer. Within a file
    rows are time-sorted; files of one group overlap in time.
    """
    rng = np.random.default_rng(seed)
    hour, _, table = np.meshgrid(
        np.arange(spec.hours), np.arange(spec.files_per_group), np.arange(spec.tables), indexing="ij"
    )
    hour, table = hour.ravel(), table.ravel()
    shape = (hour.size, spec.rows_per_file)  # one row of the arrays per file, in WAL order
    h0 = (DAY_NS + hour * HOUR_NS)[:, None]
    cols = {
        "time": np.sort(h0 + rng.integers(0, HOUR_NS, shape, dtype=np.int64), axis=1),
        "tag1": rng.integers(0, len(TAG1), shape, dtype=np.int32),
        "tag2": rng.integers(0, len(TAG2), shape, dtype=np.int32),
        "f_int": rng.integers(0, 1000, shape, dtype=np.int64),
        "f_dbl": rng.standard_normal(shape),
        "f_str": rng.integers(0, len(F_STR), shape, dtype=np.int32),
    }
    inputs = Inputs(spec=spec)
    tables = []
    ordered: list[tuple[int, dict]] = []
    per_group: dict[tuple, list] = {}
    os.makedirs(os.path.join(root, HOST, "snapshots"), exist_ok=True)
    for i in range(hour.size):
        rel = f"{HOST}/dbs/db-0/table-{table[i]}/{DATE}/{hour[i]:02d}-00/{i + 1:010d}.parquet"
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tables.append(_table({n: c[i] for n, c in cols.items()}))
        pq.write_table(tables[-1], path, compression="zstd")
        t = cols["time"][i]
        info = {
            "id": i + 1,
            "path": rel,
            "size_bytes": os.path.getsize(path),
            "row_count": spec.rows_per_file,
            "chunk_time": int(t[0]),
            "min_time": int(t[0]),
            "max_time": int(t[-1]),
        }
        ordered.append((int(table[i]), info))
        per_group.setdefault((int(table[i]), int(hour[i])), []).append(i)

    for s, idx in enumerate(np.array_split(np.arange(len(ordered)), spec.snapshots)):
        with open(os.path.join(root, HOST, "snapshots", f"{s + 1:04d}.info.json"), "w", encoding="utf-8") as fh:
            json.dump(_snapshot_json([ordered[i] for i in idx]), fh, indent=2)

    hashes = row_hashes(pa.concat_tables(tables)).reshape(shape)
    inputs.group_digests = {k: multiset_digest(hashes[rows].ravel()) for k, rows in per_group.items()}
    for t in range(spec.tables):
        times, f_int = cols["time"][table == t].ravel(), cols["f_int"][table == t].ravel()
        order = np.argsort(times, kind="stable")
        inputs.table_rows[t] = (times[order], f_int[order])
    inputs.digest = tree_digest(root)
    inputs.sizes = {
        "rows": hour.size * spec.rows_per_file,
        "files": hour.size,
        "bytes": sum(i["size_bytes"] for _, i in ordered),
        "snapshots": spec.snapshots,
        "groups": len(per_group),
    }
    return inputs


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


# -- scans ------------------------------------------------------------------
def scan_plan(spec: LayoutSpec, seed: int, n: int) -> list[tuple[int, int, int]]:
    """``n`` one-hour (table, lo_ns, hi_ns) ranges inside the layout's
    time span; start offsets are arbitrary, so most ranges straddle two
    hour files."""
    rng = np.random.default_rng([seed, 1])
    span = spec.hours * HOUR_NS - HOUR_NS
    out = []
    for _ in range(n):
        table = int(rng.integers(0, spec.tables))
        lo = DAY_NS + int(rng.integers(0, span + 1))
        out.append((table, lo, lo + HOUR_NS - 1))
    return out


def expected_scan(inputs: Inputs, table: int, lo: int, hi: int) -> tuple[int, int, int, int]:
    """(rows, Σf_int, min time, max time) of the table over [lo, hi]."""
    times, f_int = inputs.table_rows[table]
    a, b = np.searchsorted(times, lo, "left"), np.searchsorted(times, hi, "right")
    return (int(b - a), int(f_int[a:b].sum()), int(times[a]), int(times[b - 1]))


def scan_problem(inputs: Inputs, table: int, lo: int, hi: int, row) -> str | None:
    """A message when a scan's (count, Σf_int, min, max) row is wrong."""
    got = tuple(int(v) for v in row)
    want = expected_scan(inputs, table, lo, hi)
    return None if got == want else f"scan table={table} [{lo},{hi}]: got {got}, expected {want}"


# -- output checks ----------------------------------------------------------
def group_of(key: tuple) -> tuple[int, int]:
    """GroupResult.key (host, db, table, date, hour) -> generator key."""
    return (int(key[2].split("-")[1]), int(key[4]))


def check_outputs(inputs: Inputs, data_dir: str, reports: list) -> list[str]:
    """Per-group problems: a missing or extra group, an output whose
    row multiset differs from its inputs', or an output file that is
    not sorted by time. Returns one message per failed group."""
    problems = []
    seen = set()
    for report in reports:
        for res in report.results:
            key = group_of(res.key)
            seen.add(key)
            digests, unsorted = [], []
            for rel in res.output_paths:
                tbl = read_output(os.path.join(data_dir, rel))
                times = tbl.column("time").to_numpy()
                if times.size > 1 and not bool(np.all(times[1:] >= times[:-1])):
                    unsorted.append(rel)
                digests.append(multiset_digest(row_hashes(tbl)))
            if unsorted:
                problems.append(f"{key}: not time-sorted: {unsorted}")
            elif combine(digests) != inputs.group_digests.get(key):
                problems.append(f"{key}: row multiset differs from the inputs'")
    problems += [f"{k}: not compacted" for k in sorted(set(inputs.group_digests) - seen, key=str)]
    return problems
