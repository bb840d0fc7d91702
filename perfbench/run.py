"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload compact-hourly --seed 1 --seconds 1 --trace 0

Run it from the repository root. Workloads:

- ``compact-hourly``: ``CompactionJob.run()`` (K1) over a generated
  layout of 16 (table, hour) groups of ten small WAL files, listed
  across 160 snapshots, then one-hour ``read_table`` scans of the
  compacted catalog.
- ``analytics-sf1``: one client, closed loop, over six rows of the
  sf1 matched query set on tables generated at sf0.01 row counts
  (``mixdata.py``); the seed shuffles the query order.

Each run sets up (Spark session, input generation three times with a
byte-identity check), runs ``WARMUP_PASSES`` checked warm-up passes
that pay JIT and worker start-up, then repeats measured passes for
``--seconds``, at least ``MEASURED_PASSES``. Every compaction pass
runs on a fresh copy of the pristine layout, made outside the timed
region. Every output is checked: ``fsck_host`` clean, each group's row multiset equal to its
inputs', each output file time-sorted, each scan aggregate equal to
the value computed from the generated rows, each query result digest
equal to its DuckDB twin's. A failed check counts against
``attempted`` and makes the exit code 1.

End-to-end metrics:

- ``setup_s``: session start + median generation (+ median copy), wall.
- ``pass_s``: median over the measured passes of the wall seconds of a
  pass (a compaction run, or the sum of
  the query times of a pass over the mix) times the share of CPU time
  the host did not steal from this machine while it ran. On a shared
  host the raw wall time moves with other tenants' load.
- ``pass_cpu_s``: the median CPU seconds of this process and its
  descendants (the JVM and its Python workers) over the same passes.
- ``op_cpu_s``: geometric mean of the CPU seconds of each read
  operation (a measured scan, or a query of a pass; then the median
  over passes), so one short operation's regression is not hidden by
  the long ones.

Raw wall times (pass time, operation median, tail and geometric mean),
steal shares and bytes_ratio go to the run's record.

``--trace 1`` runs the same work with the wrappers of ``tracing.py``
installed and prints the per-layer metrics instead, plus the traced
passes' ``pass_s`` and ``pass_cpu_s``: the tracing overhead is their
difference from the untraced runs'. The full record of a run, with its
context (cpus, seed, versions, commit, start time), goes to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(BASE, "work")
OUT = os.path.join(BASE, "out")

WORKLOADS = ("compact-hourly", "analytics-sf1")
GENERATIONS = 3  # set-ups per run: the median is reported, all must be byte-identical
# Checked but unmeasured passes before the measured ones: the first pays
# JIT and worker start-up, and the second still runs measurably slower
# than the later ones while the JIT catches up.
WARMUP_PASSES = 2
# Measured passes per run, and more while --seconds have not passed. A
# fixed count keeps a run's work the same on a slow and on a fast host:
# passes keep speeding up a little as the JIT warms, so a count set by
# the clock would move the median with the host's speed.
MEASURED_PASSES = {"compact-hourly": 3, "analytics-sf1": 1}
SCAN_WARMUP = 5  # checked but unmeasured scans, for the same reason
SCANS = 20  # measured one-hour scans per compaction run; their tail is p50 (ten beyond it)

# job.py reads every snapshot twice per group under one lock, so the
# catalog's share of a pass grows with the snapshot count: 2*16*160 + 160
# read_snapshot calls per pass.
HOURLY = dict(tables=4, hours=4, files_per_group=10, rows_per_file=300, snapshots=160)

# One row of the sf1 matched set (bench.py SF1_MATCHED) per operator
# family it exercises: graph, quantiles, dedup/cluster, simsearch,
# sweep-line, text. The other matched rows (l7g, m11, w8, the second l2
# and l4 rows, and the j14/j19 sinks) are left out: each run pays a cold
# pass before its measured ones, and the twelve-row mix does not fit
# the time budget of a run.
MIX = [
    "g3_pagerank",
    "a25_weighted_median",
    "l2_dedup_clusters_collapsed",
    "l3i_ivf_pq_topk",
    "x23_max_concurrency",
    "l4_surprisal",
]
# Rows whose construction runs engine work (checkpoints), so it is timed
# with the query, as bench.py does; the others build their plan untimed.
EAGER_CONSTRUCT = {"g3_pagerank", "l2_dedup_clusters_collapsed"}

END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "op_cpu_s": "s"}


def latency_summary(values: list[float]) -> dict:
    """Count, median, geometric mean and the highest percentile with ten
    samples beyond it (the maximum when there are fewer than 20)."""
    if not values:
        return {"count": 0}
    n, s = len(values), sorted(values)
    tail_p, tail_v = (100.0, s[-1]) if n < 20 else (100 * (n - 10) / n, s[n - 11])
    return {
        "count": n,
        "p50_s": statistics.median(s),
        "geomean_s": statistics.geometric_mean(s),
        "tail_percentile": tail_p,
        "tail_s": tail_v,
    }


def median_layers(passes: list[dict]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]} if passes else {}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM and its Python workers), reaped children included."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while the table was read
            continue
        parent[int(entry)] = int(fields[1])
        used[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: steal is the
    time a shared host gave these CPUs to other tenants."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Meter:
    """Wall seconds, process-tree CPU seconds and the host's steal share
    between ``start()`` and ``stop()``."""

    def start(self) -> "Meter":
        self.ticks, self.cpu, self.t = cpu_ticks(), tree_cpu_s(), time.perf_counter()
        return self

    def stop(self) -> "Meter":
        self.wall = time.perf_counter() - self.t
        self.cpu = tree_cpu_s() - self.cpu
        steal, total = cpu_ticks()
        self.steal = (steal - self.ticks[0]) / max(1, total - self.ticks[1])
        return self


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    """One benchmark run: its arguments, session, counters and record."""

    def __init__(self, args, tracer) -> None:
        self.args = args
        self.tracer = tracer
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.record: dict = {}
        self.t_start = time.perf_counter()
        self.spark = None

    def fail(self, n: int, msg: str) -> None:
        self.failed += n
        if len(self.problems) < 50:
            self.problems.append(msg)
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    def start_spark(self) -> float:
        from kompactor_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(app_name=f"perfbench-{self.args.workload}")
        return time.perf_counter() - t0

    def passes(self, one_pass) -> tuple[list, list]:
        """Warm-up passes, then measured passes for --seconds, at least
        MEASURED_PASSES; returns the results of both (None for a pass
        that failed)."""
        warmup = [one_pass(f"w{i}") for i in range(WARMUP_PASSES)]
        least = MEASURED_PASSES[self.args.workload]
        done, deadline = [], time.perf_counter() + self.args.seconds
        while len(done) < least or time.perf_counter() < deadline:
            done.append(one_pass(f"m{len(done)}"))
        return warmup, done

    def trace_reset(self) -> None:
        if self.tracer is not None:
            self.tracer.reset()


def pass_metrics(meters: list[Meter]) -> dict[str, float]:
    """Median steal-corrected wall and CPU seconds of the passes."""
    if not meters:
        return {"pass_s": math.nan, "pass_cpu_s": math.nan}
    return {
        "pass_s": statistics.median(m.wall * (1 - m.steal) for m in meters),
        "pass_cpu_s": statistics.median(m.cpu for m in meters),
    }


def meter_record(meters: list[Meter]) -> dict:
    return {"wall_s": [m.wall for m in meters], "cpu_s": [m.cpu for m in meters], "steal": [m.steal for m in meters]}


# -- compaction workload -----------------------------------------------------
def run_compaction(run: Run) -> tuple[dict, dict]:
    import layout
    import tracing
    from kompactor_spark.compaction import CompactionJob, fsck, readers
    from pyspark.sql import functions as F

    args = run.args
    spec = layout.LayoutSpec(**HOURLY)
    session_s = run.start_spark()
    gen_s, digests = [], []
    for i in range(GENERATIONS):
        d = os.path.join(WORK, f"pristine{i}")
        t0 = time.perf_counter()
        inputs = layout.generate(spec, args.seed, d)
        gen_s.append(time.perf_counter() - t0)
        digests.append(inputs.digest)
        if i:
            shutil.rmtree(d)
    if len(set(digests)) != 1:
        raise RuntimeError(f"generation is not deterministic for seed {args.seed}: {digests}")
    pristine = os.path.join(WORK, "pristine0")
    data = os.path.join(WORK, "data")
    groups = len(inputs.group_digests)
    copy_s = []

    def one_pass(tag: str):
        """Compact a fresh copy of the pristine layout and check it;
        returns (meter, outcome, layers), or None when the pass failed."""
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        shutil.copytree(pristine, data)
        copy_s.append(time.perf_counter() - t0)

        job = CompactionJob(run.spark, data, [layout.HOST], parallelism=run.cpus)
        jobs0 = tracing.max_job_id(run.spark) if run.tracer else 0
        run.trace_reset()
        run.attempted += groups
        meter = Meter().start()
        try:
            reports = job.run()
        except Exception:
            run.fail(groups, "compaction pass raised: " + traceback.format_exc(limit=3))
            return None
        meter.stop()

        report = fsck.fsck_host(data, layout.HOST)
        results = [g for r in reports for g in r.results]
        outs = [p for g in results for p in g.output_paths]
        outcome = {
            "compaction.job.groups_compacted": len(results),
            "compaction.job.files_in": sum(len(g.input_paths) for g in results),
            "compaction.job.files_out": len(outs),
            "compaction.job.bytes_in": inputs.sizes["bytes"],
            "compaction.job.bytes_out": sum(os.path.getsize(os.path.join(data, p)) for p in outs),
            "compaction.job.rows": sum(g.row_count for g in results),
        }
        layers = None
        if run.tracer:
            layers = {**run.tracer.compaction_layers(), **run.tracer.fsck_layers(), **outcome}
            layers["compaction.job.spark_jobs"] = tracing.max_job_id(run.spark) - jobs0
        bad = layout.check_outputs(inputs, data, reports)
        if not report.ok:
            bad.append("fsck: " + report.summary())
        for msg in bad[:groups]:
            run.fail(1, msg)
        return None if bad else (meter, outcome, layers)

    warmup, done = run.passes(one_pass)
    ok = [p for p in done if p is not None]
    meters = [p[0] for p in ok]

    # One-hour range scans plus an aggregate over the last pass's catalog.
    scan_s, scan_cpu = [], []
    for i, (table, lo, hi) in enumerate(layout.scan_plan(spec, args.seed, SCAN_WARMUP + SCANS)):
        if i == SCAN_WARMUP:
            run.trace_reset()
            scan_s, scan_cpu = [], []
        run.attempted += 1
        meter = Meter().start()
        try:
            df = readers.read_table(run.spark, data, layout.HOST, 0, table, min_time_ns=lo, max_time_ns=hi)
            row = df.agg(F.count(F.lit(1)), F.sum("f_int"), F.min("time"), F.max("time")).collect()[0]
        except Exception:
            run.fail(1, f"scan table={table} [{lo},{hi}] raised: " + traceback.format_exc(limit=3))
            continue
        meter.stop()
        scan_s.append(meter.wall)
        scan_cpu.append(meter.cpu)
        problem = layout.scan_problem(inputs, table, lo, hi, row)
        if problem:
            run.fail(1, problem)

    last = ok[-1][1] if ok else {}
    metrics = {
        "setup_s": session_s + statistics.median(gen_s) + statistics.median(copy_s),
        **pass_metrics(meters),
        "op_cpu_s": statistics.geometric_mean(scan_cpu) if scan_cpu else math.nan,
    }
    run.record.update(
        inputs={"digest": inputs.digest, **inputs.sizes},
        setup={"session_start_s": session_s, "generation_s": gen_s, "copy_s": copy_s},
        warmup=meter_record([p[0] for p in warmup if p is not None]),
        passes=meter_record(meters),
        scans=latency_summary(scan_s) | {"cpu_s": scan_cpu, "seconds": scan_s},
        compaction=last,
        bytes_ratio=last["compaction.job.bytes_out"] / last["compaction.job.bytes_in"] if last else None,
        config={"parallelism": run.cpus},
    )
    per_layer = {}
    if run.tracer:
        per_layer = {"session.start_s": session_s, **median_layers([p[2] for p in ok]), **run.tracer.reader_layers()}
        meta_s = [
            (p[2]["compaction.metadata.read_snapshot.s"] + p[2]["compaction.metadata.write_snapshot_atomic.s"]) / p[0].wall
            for p in ok
        ]
        per_layer["compaction.metadata.pass_share"] = statistics.median(meta_s) if meta_s else math.nan
        per_layer.update({"trace." + k: v for k, v in pass_metrics(meters).items()})
    return metrics, per_layer


# -- analytics workload ------------------------------------------------------
def run_analytics(run: Run) -> tuple[dict, dict]:
    import layout
    import mixdata
    import tracing
    from kompactor_spark.queries import all_queries

    args = run.args
    with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as fh:
        stored = json.load(fh)
    session_s = run.start_spark()
    gen_s = []
    for i in range(GENERATIONS):
        d = os.path.join(WORK, f"mix{i}")
        t0 = time.perf_counter()
        mixdata.generate(d)
        gen_s.append(time.perf_counter() - t0)
        got = layout.tree_digest(d)
        if got != stored["input"]:
            raise RuntimeError(f"generated tables differ from the ones digests.json was made from: {got}")
        if i:
            shutil.rmtree(d)
    data = os.path.join(WORK, "mix0")
    regs = all_queries()
    rng = random.Random(args.seed)
    sc = run.spark.sparkContext

    def one_pass(tag: str):
        """One closed-loop pass over the shuffled mix, timed as bench.py
        times it: a fresh plan per run, eager-construct rows timed with
        their construction. Returns (meter, per-query seconds, per-query
        CPU seconds, layers), or None when a query failed."""
        times, cpus, lay = {}, {}, {}
        construct = 0.0
        order = list(MIX)
        rng.shuffle(order)
        meter_pass = Meter().start()
        for name in order:
            run.attempted += 1
            group = f"perfbench-{tag}-{name}"
            if run.tracer:
                sc.setJobGroup(group, name)
            try:
                t0 = time.perf_counter()
                if name in EAGER_CONSTRUCT:
                    meter = Meter().start()
                    df = regs[name](run.spark, data)
                else:
                    df = regs[name](run.spark, data)
                    construct += time.perf_counter() - t0
                    meter = Meter().start()
                pdf = df.toPandas()
                meter.stop()
            except Exception:
                run.fail(1, f"{name} raised: " + traceback.format_exc(limit=3))
                continue
            finally:
                if run.tracer:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            times[name], cpus[name] = meter.wall, meter.cpu
            if mixdata.result_digest(pdf) != stored["queries"][name]:
                run.fail(1, f"{name}: result digest differs from the DuckDB twin's")
                times.pop(name)
            if run.tracer:
                jobs, stages = tracing.group_counts(run.spark, group)
                lay.update({f"queries.{name}.s": meter.wall, f"queries.{name}.jobs": jobs, f"queries.{name}.stages": stages})
        lay["queries.construct_s"] = construct
        meter_pass.stop()
        if len(times) < len(MIX):
            return None
        # The pass counts the sum of its query times, in wall and in CPU
        # seconds, as bench.py does; the steal share is the whole pass's.
        meter_pass.wall, meter_pass.cpu = sum(times.values()), sum(cpus.values())
        return meter_pass, times, cpus, lay

    warmup, done = run.passes(one_pass)
    ok = [p for p in done if p is not None]
    meters = [p[0] for p in ok]
    flat = [t for p in ok for t in p[1].values()]
    metrics = {
        "setup_s": session_s + statistics.median(gen_s),
        **pass_metrics(meters),
        "op_cpu_s": statistics.median(statistics.geometric_mean(p[2].values()) for p in ok) if ok else math.nan,
    }
    run.record.update(
        inputs={"digest": stored["input"], "tables": list(mixdata.TABLES), "seed_shuffles": "query order"},
        setup={"session_start_s": session_s, "generation_s": gen_s},
        warmup={"per_query_s": [p[1] for p in warmup if p], "per_query_cpu_s": [p[2] for p in warmup if p]},
        passes=meter_record(meters) | {"per_query_s": [p[1] for p in ok], "per_query_cpu_s": [p[2] for p in ok]},
        queries=latency_summary(flat),
    )
    per_layer = {}
    if run.tracer:
        per_layer = {"session.start_s": session_s, **median_layers([p[3] for p in ok])}
        per_layer.update({"trace." + k: v for k, v in pass_metrics(meters).items()})
    return metrics, per_layer


# -- context and output ------------------------------------------------------
def context(args, cpus: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10, check=True
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # an exported checkout; source_digest identifies the code
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "kompactor_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "source_digest": h.hexdigest(),
        "started_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    }


def layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kompactor_spark
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(kompactor_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: kompactor_spark resolves outside {ROOT}: {kompactor_spark.__file__}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(BASE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    shutil.rmtree(WORK, ignore_errors=True)
    # Spark at local[nproc]; workers import the package from this checkout;
    # scratch files of Python, Spark and the JVM stay inside it (the JVM's
    # /tmp/hsperfdata counters are turned off).
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    run = Run(args, tracer)
    record = {"context": context(args, cpus)}
    whole = Meter().start()
    try:
        body = run_analytics if args.workload == "analytics-sf1" else run_compaction
        metrics, per_layer = body(run)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(WORK, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    correct = run.failed == 0 and all(math.isfinite(v) for v in metrics.values())
    if args.trace:
        values = {n: (per_layer.get(n, 0), u) for n, u in layer_names()}
    else:
        values = {n: (metrics[n], u) for n, u in END_TO_END.items()}
    record["context"]["host_steal_share"] = whole.stop().steal
    record.update(run.record)
    record.update(
        attempted=run.attempted,
        failed=run.failed,
        failed_share=run.failed / run.attempted if run.attempted else None,
        problems=run.problems,
        measured=metrics,
        per_layer=per_layer,
    )
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, stem + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(OUT, stem + "-spans.json"), run.t_start)
    print(json.dumps(record), file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {n: {"value": v if math.isfinite(v) else None, "unit": u} for n, (v, u) in values.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
