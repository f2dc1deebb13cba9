"""Layered benchmark for arctic_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload spatial_join --seed 1 \
        --seconds 40 --trace 0

One run starts a Spark session on ``local[<cores>]``, warms the Python
worker pool, writes the workload's seeded inputs, then drives a closed
loop with one client: operations are submitted one at a time, in
passes over the workload's operation list, until ``--seconds`` have
passed. The first pass runs in a fresh process with the engine's
expression memo empty (``session.cold_s``); later passes are warm.
Every answer is checked against a reference computed without the
engine, outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
first half of the time untraced and the second half with spans around
every call into the engine's modules and the Spark event log on, and
prints the per-layer metrics of the traced operations; the traced and
untraced warm medians give the tracing overhead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 when any answer is
wrong or any operation fails, 2 when the engine's sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3


def _percentile(values, q):
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class ProcessMemory:
    """Peak resident memory of this process and all its live descendants
    (the driver JVM, the Python worker daemon and workers), from
    ``/proc/<pid>/status`` VmHWM. Each sample sums the high-water marks
    of the processes alive at that moment; the peak is the largest such
    sum, so a worker that exits and is replaced is not counted twice."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}

    @staticmethod
    def descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        me = os.getpid()
        parts: dict[str, int] = {}
        for pid in self.descendants(me):
            try:
                with open(f"/proc/{pid}/status", encoding="ascii") as f:
                    status = f.read()
            except OSError:
                continue
            fields = dict(line.split(":", 1) for line in status.splitlines()
                          if ":" in line)
            if "VmHWM" not in fields:     # a zombie
                continue
            kind = ("driver" if pid == me else
                    "jvm" if fields["Name"].strip() == "java" else "python")
            parts[kind] = parts.get(kind, 0) + int(fields["VmHWM"].split()[0])
        if sum(parts.values()) > self.peak_kb:
            self.peak_kb = sum(parts.values())
            self.peak_parts = parts

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def describe(self) -> str:
        return ", ".join(f"{k} {v / 1024:.0f} MB"
                         for k, v in sorted(self.peak_parts.items()))


def _warm_worker_pool(spark):
    """Start and warm two Python workers per core before timing (one per
    eval node of a two-node stage), importing the kernel stack, so timed
    operations see the steady pool a long-running cluster has."""
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("boolean")
    def _warm_pred(s: pd.Series) -> pd.Series:
        import arctic_spark.geom.algos    # noqa: F401
        import arctic_spark.geom.batch    # noqa: F401
        import arctic_spark.geom.boolean  # noqa: F401
        return s >= 0

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import arctic_spark.geom.algos    # noqa: F401
        import arctic_spark.geom.batch    # noqa: F401
        import arctic_spark.geom.boolean  # noqa: F401
        import arctic_spark.geom.relate   # noqa: F401
        import arctic_spark.llm.dedup     # noqa: F401
        return s

    n = spark.sparkContext.defaultParallelism
    (spark.range(n * 8, numPartitions=n).where(_warm_pred("id"))
     .select(_warm(col("id"))).write.format("noop").mode("overwrite").save())


def _start_spark(work: str, trace: bool):
    """Session on local[<usable cores>] with every scratch path inside the
    run's work directory. Returns (spark, seconds taken)."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory; a fixed
        # initial heap, so G1 does not grow the heap by a GC-time share
        # that depends on host load (the JVM's peak RSS varied 2.0-2.8 GB
        # between runs of one seed without it)
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms2g -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        evdir = os.path.join(work, "events")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    from arctic_spark.session import get_spark
    spark = get_spark("arctic_spark-perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, **conf)
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child
    process to end; stragglers get SIGKILL after 30 s."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
    me = os.getpid()
    for grace in (30.0, 10.0):
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:   # reap exited children so they leave /proc
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = [p for p in ProcessMemory.descendants(me) if p != me]
            if not left:
                return
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    print(f"perfbench: processes {left} did not end", file=sys.stderr)


class Run:
    def __init__(self, spark, workload, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.tracer = tracer
        self.memory = ProcessMemory()
        self.records = []     # one dict per operation
        self.errors = []

    def op(self, pass_idx, i, op, traced):
        op_id = f"{pass_idx}.{i}"
        rec = {"op": op, "id": op_id, "pass": pass_idx, "traced": traced,
               "plan_s": 0.0}
        tracer = self.tracer if traced else None
        wl, sc = self.wl, self.sc
        try:
            sc.setJobGroup(f"{op_id}:build", op)
            if tracer:
                tracer.at(op_id, "build")
            t0 = time.perf_counter()
            built = wl.build(self.spark, op)
            rec["build_s"] = time.perf_counter() - t0
            if tracer:
                sc.setJobGroup(f"{op_id}:plan", op)
                tracer.at(op_id, "plan")
                t0 = time.perf_counter()
                getattr(built, "df", built)._jdf.queryExecution() \
                    .executedPlan()
                rec["plan_s"] = time.perf_counter() - t0
            sc.setJobGroup(f"{op_id}:act", op)
            if tracer:
                tracer.at(op_id, "act")
            t0 = time.perf_counter()
            result = wl.act(self.spark, op, built)
            rec["act_s"] = time.perf_counter() - t0
        except Exception as exc:  # a failed operation is counted, not fatal
            rec["error"] = f"{op}: {type(exc).__name__}: {exc}"[:2000]
        finally:
            if tracer:
                tracer.at(None, None)
            sc.setJobGroup("untimed", "untimed")
        if "error" not in rec:
            rec["total_s"] = rec["build_s"] + rec["plan_s"] + rec["act_s"]
            try:
                err = wl.check(op, result)
            except Exception as exc:  # an unreadable answer is a wrong one
                err = f"{op}: check raised {type(exc).__name__}: {exc}"
            if err:
                rec["error"] = err
        if "error" in rec:
            self.errors.append(rec["error"])
        else:
            print(f"  op {op_id:>6} {op:26s} build {rec['build_s']:7.3f} s"
                  f"  plan {rec['plan_s']:6.3f} s  act {rec['act_s']:7.3f} s"
                  f"{'  (traced)' if traced else ''}", flush=True)
        rec["persisted_after"] = self.sc._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        self.memory.sample()
        self.records.append(rec)

    def passes(self, first, until, traced, min_passes):
        """Run passes from index ``first``: at least ``min_passes`` whole
        ones, then operations until time is up, so the last pass may be
        partial. Returns the next unused pass index."""
        p = first
        while True:
            for i, op in enumerate(self.wl.ops()):
                if p - first >= min_passes and time.perf_counter() >= until:
                    return p + 1 if i else p
                self.op(p, i, op, traced)
            p += 1


def _warm_stats(records):
    """(wall_s, latencies) over the measured warm passes: wall_s sums each
    operation's median time, so one slow sample cannot move it much.
    The latencies come from whole passes only, so every operation is
    weighted alike. Pass 0 is the cold pass and pass 1 finishes JIT
    warm-up (its times run consistently high), so neither is measured
    here."""
    by_op: dict[str, list[float]] = {}
    by_pass: dict[int, list[float]] = {}
    for r in records:
        if r["pass"] > 1 and "total_s" in r:
            by_op.setdefault(r["op"], []).append(r["total_s"])
            by_pass.setdefault(r["pass"], []).append(r["total_s"])
    lat = [t for v in by_pass.values() if len(v) == len(by_op) for t in v]
    return sum(statistics.median(v) for v in by_op.values()), lat


def _cold_s(run):
    """Time of pass 0, the cold pass of the fresh session."""
    return sum(r.get("total_s", 0.0) for r in run.records if r["pass"] == 0)


def end_to_end(run, setup_s):
    warm = [r for r in run.records if not r["traced"]]
    wall, lat = _warm_stats(warm)
    n_warm_passes = len({r["pass"] for r in warm if r["pass"] > 1})
    if not lat:     # every measured operation failed; the run exits 1
        lat = [0.0]
    # the median operation is printed, not reported: on spatial_join it
    # is wall_s, and on query_sweep it jumps between query types
    print(f"{run.wl.name}: {len(lat)} operation samples in whole "
          f"passes (median {_percentile(lat, 0.5):.3f} s) over "
          f"{n_warm_passes} measured passes, after one cold "
          f"({_cold_s(run):.3f} s) and one warm-up pass of "
          f"{len(run.wl.ops())} operations; peak memory "
          f"{run.memory.describe()}")
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": run.wl.input_rows / wall if wall else 0.0,
        "query_p90_s": _percentile(lat, 0.9),
        "peak_rss_mb": run.memory.peak_mb(),
    }


def per_layer(run, session, tracer, groups, kernels):
    from spans import LAYERS
    traced = [r for r in run.records if r["traced"] and "total_s" in r]
    n = len(traced)
    ids = {r["id"] for r in traced}

    def mean(values):
        return sum(values) / n if n else 0.0

    def group_sum(field, phases=("build", "plan", "act")):
        return mean([getattr(groups[f"{i}:{ph}"], field)
                     for i in ids for ph in phases
                     if f"{i}:{ph}" in groups])

    build_self = tracer.self_times("build")
    io_self = sum(v for phase in ("build", "plan", "act")
                  for (op, layer), v in tracer.self_times(phase).items()
                  if op in ids and layer == "io")
    cand = group_sum("join_rows")
    match = group_sum("refine_rows")
    m = {
        "session.start_s": session["start_s"],
        "session.warm_s": session["warm_s"],
        "session.cold_s": _cold_s(run),
        "build.total_s": mean([r["build_s"] for r in traced]),
        "build.share": mean([r["build_s"] for r in traced])
        / (mean([r["total_s"] for r in traced]) or 1.0),
        "build.py4j_calls": mean([tracer.py4j_calls.get((i, "build"), 0)
                                  for i in ids]),
        "build.jobs": group_sum("jobs", ("build",)),
    }
    for layer in LAYERS:
        if layer != "io":
            m[f"build.{layer}.self_s"] = mean(
                [v for (op, ly), v in build_self.items()
                 if op in ids and ly == layer] or [0.0])
    m.update({
        "catalyst.plan_s": mean([r["plan_s"] for r in traced]),
        "catalyst.python_nodes": group_sum("python_nodes", ("act",)),
        "catalyst.exchanges": group_sum("exchanges", ("act",)),
        "executor.task_s": group_sum("task_s"),
        "executor.cpu_s": group_sum("cpu_s"),
        "executor.gc_s": group_sum("gc_s"),
        "executor.tasks": group_sum("tasks"),
        "udfs.boot_s": group_sum("py_boot_s"),
        "udfs.init_s": group_sum("py_init_s"),
        "udfs.total_s": group_sum("py_total_s"),
        "udfs.bytes_sent": group_sum("py_bytes_sent"),
        "udfs.bytes_received": group_sum("py_bytes_received"),
        "udfs.rows": group_sum("py_rows"),
        "shuffle.write_bytes": group_sum("shuffle_write_bytes"),
        "shuffle.read_bytes": group_sum("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": group_sum("fetch_wait_s"),
        "joins.candidates": cand,
        "joins.matches": match,
        "joins.refine_yield": match / cand if cand else 0.0,
        "io.read_bytes": group_sum("input_bytes"),
        "io.write_bytes": group_sum("output_bytes"),
        "io.self_s": io_self / n if n else 0.0,
        "cache.persisted_after": mean([r["persisted_after"]
                                       for r in traced]),
    })
    m.update(kernels)
    return m


def _declared(kind: str) -> dict[str, str]:
    """{metric name: unit} of ``kind`` ("end_to_end" or "per_layer") as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "arctic_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        print(f"perfbench: arctic_spark sources or BENCHMARK.json missing "
              f"in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _bench(args, work, trace, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, work, trace, workloads) -> int:
    spark, start_s = _start_spark(work, trace)
    try:
        t0 = time.perf_counter()
        _warm_worker_pool(spark)
        warm_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        setup_s = start_s + warm_s + statistics.median(prep)

        tracer = None
        if trace:
            from spans import Tracer
            tracer = Tracer()
        run = Run(spark, wl, tracer)
        run.memory.sample()
        t_start = time.perf_counter()
        if trace:
            # untraced half (cold pass + warm passes), then traced half
            p = run.passes(0, t_start + args.seconds / 2, False, 3)
            tracer.install(spark)
            tracer.enabled = True
            run.passes(p, t_start + args.seconds, True, 1)
            tracer.enabled = False
            tracer.uninstall()
        else:
            run.passes(0, t_start + args.seconds, False, 3)
        run.memory.sample()
        app_id = spark.sparkContext.applicationId
    finally:
        _stop_spark(spark)

    attempted = len(run.records)
    failed = len(run.errors)
    for err in run.errors[:10]:
        print(f"FAILED {err}", file=sys.stderr)
    if trace:
        import eventlog
        from kernels import kernel_rates
        # the last traced run's spans and event log stay for inspection
        keep = os.path.join(WORK_ROOT, f"trace-{args.workload}")
        shutil.rmtree(keep, ignore_errors=True)
        shutil.copytree(os.path.join(work, "events"), keep)
        groups = eventlog.summarize(eventlog.read_events(
            eventlog.log_files(keep, app_id)))
        values = per_layer(run, {"start_s": start_s, "warm_s": warm_s},
                           tracer, groups, kernel_rates(args.seed))
        untraced, _ = _warm_stats([r for r in run.records
                                   if not r["traced"]])
        traced, _ = _warm_stats([r for r in run.records if r["traced"]])
        tracer.dump(os.path.join(keep, "spans.jsonl"))
        if untraced and traced:
            print(f"{args.workload}: tracing overhead "
                  f"{(traced / untraced - 1) * 100:+.1f}% (warm wall "
                  f"{untraced:.3f} s untraced, {traced:.3f} s traced)")
    else:
        values = end_to_end(run, setup_s)
    declared = _declared("per_layer" if trace else "end_to_end")
    if set(values) != set(declared):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(declared))}")
    for name, unit in declared.items():
        print(f"  {name:34s} {values[name]:14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in declared.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
