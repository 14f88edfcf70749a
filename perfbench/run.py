#!/usr/bin/env python3
"""Benchmark of the ESG decarbonisation engine.

    python3 perfbench/run.py --workload nightly_dag --seed 1 \\
        --seconds 5 --trace 0

Workloads (see workloads.py): ``nightly_dag``, ``query_mix`` and
``lakehouse_rw``; ``lakehouse_rw`` ends each pass with two of
``query_mix``'s queries.  BENCHMARK.json lists ``nightly_dag`` and
``lakehouse_rw``: a run costs 30-90 s on 4 shared cores, most of it
JVM start and a cold warm-up pass, and the repeated runs of three
workloads would not fit the time the benchmark is given.  One process runs one workload on
``local[<cores available>]``: it starts the session, builds the
workload's seeded inputs once, warms up with one checked pass, then runs
whole passes of the workload's fixed op list until ``--seconds`` have
elapsed, checks the outputs and prints a report.  The last line of
stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run alternates untraced and traced passes and the
metrics are the per-layer ones (spans recorded around the package's
public functions, Spark counts from the in-process status stores).
Spans are written to ``perfbench/.work/<workload>/spans.jsonl`` when
the run ends.  Everything the run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

import workloads as W
from spans import SparkProbe, Tracer, critical_path, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "esg_decarbonization_data_integration_and_data_pipline_spark"

WORKLOADS = ("nightly_dag", "query_mix", "lakehouse_rw")
# input sizes: ESG sites per site prefix (10 prefixes), TPC-H scale
# factor, rows of the versioned table.  The table has a third of sf0.1's
# 150k orders: at 150k rows a lakehouse_rw run took 14% longer (68-74 s
# against 57-68 s, alternating runs on 4 shared cores), more than the
# benchmark's time budget leaves room for
NIGHTLY_SCALE = 3
QUERY_SF = 0.01
LAKEHOUSE_ROWS = 50_000
# the registry queries lakehouse_rw runs after its table ops: a scan
# and aggregate, and text features computed in Python workers (the
# Arrow/pandas-UDF boundary)
LAKEHOUSE_QUERIES = ("pricing_summary", "text_quality")

END_TO_END = {  # name -> unit, as declared in BENCHMARK.json
    "setup_s": "s", "pass_cpu_s": "s",
}


def bootstrap() -> None:
    """Make the package importable here and in Spark's Python workers
    (they inherit PYTHONPATH, not this process's sys.path), and keep
    every scratch file of Spark, the JVM and Python inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(cores: int):
    from esg_decarbonization_data_integration_and_data_pipline_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark("perfbench", master=f"local[{cores}]", conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # -XX:-UsePerfData: no hsperfdata file outside WORK
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# running ops
# ---------------------------------------------------------------------------

@dataclass
class OpRecord:
    phase: str          # warmup | untraced | traced
    pass_no: int
    name: str
    kind: str
    wall_s: float
    cpu_s: float
    error: str | None
    spark: dict


class Harness:
    def __init__(self, spark, workload, tracer, probe) -> None:
        self.spark, self.wl = spark, workload
        self.tracer, self.probe = tracer, probe
        self.records: list[OpRecord] = []
        # wall and CPU seconds spent preparing and checking ops: the
        # benchmark's own bookkeeping, outside every timed figure
        self.untimed_s = self.untimed_cpu_s = 0.0
        self._op_ids = itertools.count(1)
        self.traced_ops: list[tuple[int, OpRecord]] = []

    def run_op(self, op, phase: str, pass_no: int) -> OpRecord:
        if op.prepare is not None:
            t1, c1 = time.perf_counter(), tree_cpu_s()
            try:
                op.prepare()
            except Exception as e:  # noqa: BLE001 -- a failed op is counted
                return self._record(phase, pass_no, op, 0.0,
                                    f"prepare: {type(e).__name__}: {e}",
                                    {}, None)
            finally:
                self.untimed_s += time.perf_counter() - t1
                self.untimed_cpu_s += tree_cpu_s() - c1
        traced = self.tracer.enabled
        mark = self.probe.mark() if traced else None
        op_id = next(self._op_ids)
        self.spark.sparkContext.setJobGroup(f"op-{op_id}", op.name)
        error, payload = None, None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.op(op_id, op.name):
            try:
                payload = op.run()
            except Exception as e:  # noqa: BLE001 -- a failed op is counted
                error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if error is None and op.check is not None:
            t1, c1 = time.perf_counter(), tree_cpu_s()
            try:
                op.check(payload)
            except Exception as e:  # noqa: BLE001 -- a failed check is counted
                error = f"check: {type(e).__name__}: {e}"
            self.untimed_s += time.perf_counter() - t1
            self.untimed_cpu_s += tree_cpu_s() - c1
        counts = self.probe.collect(mark) if traced else {}
        return self._record(phase, pass_no, op, wall, error, counts,
                            op_id if traced else None, cpu)

    def _record(self, phase, pass_no, op, wall, error, counts,
                op_id, cpu=0.0) -> OpRecord:
        rec = OpRecord(phase, pass_no, op.name, op.kind, wall, cpu,
                       error and error[:500], counts)
        self.records.append(rec)
        if op_id is not None:
            self.traced_ops.append((op_id, rec))
        if error:
            print(f"FAILED {phase} {op.name}: {rec.error}", flush=True)
        return rec

    def run_pass(self, ops, phase: str, pass_no: int) -> float:
        return sum(self.run_op(op, phase, pass_no).wall_s for op in ops)


def measure(h: Harness, seconds: float, traced_run: bool,
            instrument) -> dict[str, list[float]]:
    """Whole passes until ``seconds`` have elapsed.  A traced run
    alternates untraced and traced passes, starting untraced, and
    runs at least three (untraced, traced, untraced), so the tracing
    overhead compares a traced pass with untraced ones on both sides."""
    passes: dict[str, list[float]] = defaultdict(list)
    t_end = time.perf_counter() + seconds
    p = 0
    while True:
        phase = "traced" if traced_run and p % 2 == 1 else "untraced"
        if phase == "traced":
            h.tracer.enabled = True
            instrument()
        try:
            passes[phase].append(h.run_pass(h.wl.pass_ops(p), phase, p))
        finally:
            h.tracer.enabled = False
            h.tracer.unwrap_all()
        p += 1
        if time.perf_counter() >= t_end and (
                not traced_run or p >= 3):
            return passes


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest whole percentile with at least 10 samples beyond
    it, and its value; None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    q = int(100 * (n - 10) / n)
    return q, percentile(values, q)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its live descendants: the JVM and the Spark
    Python workers it forks.  Time the host steals from the machine is
    not in it, so it spreads less between runs than wall time."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields from 3 on: [1] ppid, [11:15] utime stime cutime cstime
        stats[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo += children[pid]
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the JVM, from /proc."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    kb = hwm("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += hwm(proc.pid)
    return kb / 1024


def end_to_end(h: Harness, passes, setup_s: float, spark, wl) -> dict:
    ops = [r for r in h.records if r.phase == "untraced"]
    walls = [r.wall_s for r in ops]
    cpu: dict[int, float] = defaultdict(float)
    for r in ops:
        cpu[r.pass_no] += r.cpu_s
    # the first timed pass only: later passes find more code compiled
    # by the JIT and cost less CPU, and how many passes fit in
    # --seconds depends on how fast the host is at the time
    m = {
        "setup_s": setup_s,
        "pass_cpu_s": cpu[0],
    }
    # reported, not gated.  Wall times move with the CPU time the host
    # steals from this machine (pass_s spread 0.2-0.3 between runs on a
    # busy host, where the CPU time of the same passes spread < 0.1);
    # the op median of a fixed mix of unlike ops jumps between op types
    # from run to run; the JVM heap's high-water mark moves with GC
    # timing.  All spread more between runs than a bound can allow.
    # pass_cpu_s cannot see waiting: a change that only cuts idle wall
    # time (e.g. overlapping run_all's jobs instead of waiting at each
    # wave barrier) shows in pass_s and pipelines.dag.wait_s, not here.
    extra = {"pass_s": (statistics.median(passes["untraced"]), "s",
                        f"n={len(passes['untraced'])}"),
             "ops_per_s": (len(walls) / sum(walls), "1/s", f"n={len(walls)}"),
             "op_p50_s": (statistics.median(walls), "s", f"n={len(walls)}"),
             "peak_rss_mb": (peak_rss_mb(spark), "MB", "driver + JVM")}
    t = tail(walls)
    extra["op_tail_s"] = ((t[1], "s", f"p{t[0]} n={len(walls)}")
                          if t is not None else
                          (float("nan"), "s", f"n={len(walls)} < 11"))
    for kind in ("read", "write"):
        w = [r.wall_s for r in ops if r.kind == kind]
        if w:
            extra[f"{kind}_p50_s"] = (statistics.median(w), "s",
                                      f"n={len(w)}")
    everything = h.records
    extra["failed_ratio"] = (
        sum(r.error is not None for r in everything) / len(everything),
        "ratio", f"n={len(everything)}")
    ratio = wl.stored_ratio()
    if ratio is not None:
        extra["bytes_stored_per_live_byte"] = (ratio, "ratio", "after run")
    return m, extra, len(walls), len(passes["untraced"])


def per_layer(h: Harness, passes, counters: dict, session_s: float,
              wl) -> dict:
    traced = h.traced_ops
    n_pass = max(1, len(passes["traced"]))
    by_id = {i: h.tracer.of_op(i) for i, _ in traced}

    def total(pred, attr=lambda s: s.end - s.start) -> float:
        return sum(attr(s) for spans in by_id.values() for s in spans
                   if pred(s))

    def per_pass(v: float) -> float:
        return v / n_pass

    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    for layer in ("ingest", "gate", "staging", "app"):
        m[f"pipelines.{layer}.busy_s"] = (per_pass(total(
            lambda s, l=layer: s.layer == f"pipelines.{l}")), "s")
    wait = 0.0
    deps = wl.deps() if hasattr(wl, "deps") else {}
    for spans in by_id.values():
        for dag in (s for s in spans if s.layer == "pipelines.dag"):
            jobs = {s.name.removeprefix("pipelines.job."): s.end - s.start
                    for s in spans if s.parent == dag.id}
            wait += (dag.end - dag.start) - critical_path(jobs, deps)
    m["pipelines.dag.wait_s"] = (per_pass(wait), "s")

    def outer_writer(s, kind):
        return (s.layer == "io.writers" and s.name.startswith(
            f"io.writers.{kind}") and s.attrs["parent_layer"] != "io.writers")

    m["io.writers.calls"] = (per_pass(
        total(lambda s: outer_writer(s, "write") or outer_writer(s, "read"),
              lambda s: 1)), "count")
    m["io.writers.write_s"] = (per_pass(
        total(lambda s: outer_writer(s, "write"))), "s")
    m["io.writers.read_s"] = (per_pass(
        total(lambda s: outer_writer(s, "read"))), "s")
    m["io.writers.files_written"] = (per_pass(
        counters["io.writers.files_written"]), "count")
    m["io.writers.bytes_written"] = (per_pass(
        counters["io.writers.bytes_written"]), "B")

    def versioned(kind):
        return lambda s: (s.name.startswith(f"io.versioned.{kind}.")
                          and s.attrs["parent_layer"] != "io.versioned")

    m["io.versioned.commit_s"] = (per_pass(total(versioned("commit"))), "s")
    m["io.versioned.compact_s"] = (per_pass(total(versioned("compact"))),
                                   "s")
    m["io.versioned.plan_s"] = (per_pass(total(versioned("plan"))), "s")
    reads = counters["io.versioned.reads"]
    m["io.versioned.files_per_read"] = (
        counters["io.versioned.files_read"] / reads if reads else 0.0,
        "count")
    rt = counters["io.versioned.range_files_total"]
    m["io.versioned.files_read_ratio"] = (
        counters["io.versioned.range_files_read"] / rt if rt else 0.0,
        "ratio")
    m["io.versioned.data_files"] = (
        float(wl.V.describe_table(wl.table)["n_files"])
        if hasattr(wl, "V") else 0.0, "count")
    m["sources.datasource.read_s"] = (per_pass(
        total(lambda s: s.layer == "sources.datasource")), "s")
    m["plans.build_s"] = (per_pass(total(lambda s: s.layer == "plans")),
                          "s")

    spark_tot: dict[str, float] = defaultdict(float)
    driver_only = 0.0
    for _, r in traced:
        for k, v in r.spark.items():
            spark_tot[k] += v
        driver_only += max(0.0, r.wall_s - r.spark.get("job_busy_s", 0.0))
    for k in ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.tasks_failed"):
        m[k] = (per_pass(spark_tot[k]), "count")
    m["driver.only_s"] = (per_pass(driver_only), "s")
    for k, unit in (("engine.scan_s", "s"), ("engine.bytes_read", "B"),
                    ("engine.files_read", "count"),
                    ("engine.shuffle_bytes", "B"),
                    ("engine.exchanges", "count"),
                    ("engine.python_s", "s")):
        m[k] = (per_pass(spark_tot[k]), unit)

    selfs: dict[str, float] = defaultdict(float)
    for spans in by_id.values():
        for layer, v in self_times(spans).items():
            selfs[layer] += v
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = (per_pass(selfs.get(layer, 0.0)), "s")
    m["trace.overhead_s"] = (
        statistics.mean(passes["traced"])
        - statistics.mean(passes["untraced"]), "s")
    m["trace.spans"] = (per_pass(len(h.tracer.spans)), "count")
    return m


SELF_LAYERS = ("harness", "pipelines.dag", "pipelines.ingest",
               "pipelines.gate", "pipelines.staging", "pipelines.app",
               "pipelines.transform", "io.writers", "io.versioned",
               "sources.datasource", "plans", "engine.execute")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def make_workload(name: str, spark, work: str, seed: int):
    if name == "nightly_dag":
        return W.NightlyDag(spark, work, seed, scale=NIGHTLY_SCALE)
    if name == "query_mix":
        return W.QueryMix(spark, work, seed, sf=QUERY_SF, root=ROOT)
    return W.LakehouseRW(spark, work, seed, rows=LAKEHOUSE_ROWS,
                         queries=W.QueryMix(spark, work, seed, sf=QUERY_SF,
                                            root=ROOT,
                                            names=LAKEHOUSE_QUERIES))


def write_spans(tracer, path: str) -> None:
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({
                "id": s.id, "name": s.name, "layer": s.layer, "op": s.op,
                "parent": s.parent, "start": s.start, "end": s.end}) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bootstrap()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found next to perfbench/",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0, c0 = time.perf_counter(), tree_cpu_s()
    spark = start_session(cores)
    session = (time.perf_counter() - t0, tree_cpu_s() - c0)
    try:
        return run(args, spark, work, session, cores)
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit: the JVM exits when its stdin pipe closes."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, spark, work, session, cores) -> int:
    """``session``: (wall, CPU) seconds the session start took.

    Set-up = session start + the fixture build + the warm-up pass,
    less the preparing and checking of its ops.  ``setup_s`` is its
    CPU time (driver, JVM and workers), which the host's stolen time
    moves far less than the wall time printed beside it."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    wl = make_workload(args.workload, spark, work, args.seed)
    wl.setup()
    build = (time.perf_counter() - t0, tree_cpu_s() - c0)
    tracer = Tracer()
    h = Harness(spark, wl, tracer, None)
    t0, c0 = time.perf_counter(), tree_cpu_s()
    h.run_pass(wl.warmup_ops(), "warmup", -1)
    warm = (time.perf_counter() - t0 - h.untimed_s,
            tree_cpu_s() - c0 - h.untimed_cpu_s)
    session_s = session[0]
    setup_wall_s = session_s + build[0] + warm[0]
    setup_s = session[1] + build[1] + warm[1]

    counters: dict[str, float] = defaultdict(float)
    h.probe = SparkProbe(spark) if args.trace else None
    passes = measure(h, args.seconds, bool(args.trace),
                     lambda: wl.instrument(tracer, counters))
    if hasattr(wl, "close"):
        wl.close()

    e2e, extra, n_ops, n_passes = end_to_end(h, passes, setup_s, spark, wl)
    extra["setup_wall_s"] = (setup_wall_s, "s", "n=1")
    failed = sum(r.error is not None for r in h.records)
    print(f"workload {args.workload}: seed {args.seed}, local[{cores}], "
          f"{n_ops} timed ops in {n_passes} passes, "
          f"{len(h.records)} ops attempted, {failed} failed")
    print(f"  setup wall: session {session_s:.3f} s, fixture build "
          f"{build[0]:.3f} s, warm-up {warm[0]:.3f} s")
    for k, v in e2e.items():
        print(f"  {k:28s} {v:12.4f} {END_TO_END[k]:5s} n=1")
    for k, (v, unit, note) in extra.items():
        print(f"  {k:28s} {v:12.4f} {unit:5s} {note}")
    for phase in ("warmup", "untraced"):
        by_op: dict[str, list[float]] = defaultdict(list)
        for r in h.records:
            if r.phase == phase:
                by_op[r.name].append(r.wall_s)
        print(f"  {phase} per op (median s, n): " + ", ".join(
            f"{k} {statistics.median(v):.3f} {len(v)}"
            for k, v in by_op.items()))
    for note in dict.fromkeys(wl.notes):
        print(f"  note: {note}")
    if args.trace:
        layer = per_layer(h, passes, counters, session_s, wl)
        for k, (v, unit) in layer.items():
            print(f"  {k:28s} {v:14.4f} {unit}")
        write_spans(tracer, os.path.join(work, "spans.jsonl"))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(h.records),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
