"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from
--seed (cached per seed under .perfbench_work/), starts a local Spark
session on every core of the host, sets the workload up several times
and keeps the last set-up, then runs whole rounds of the workload's
operations in a closed loop (one client; the next operation starts
when the previous one returned) until --seconds of round time have
passed.  Outputs are checked after each round, outside the timed
section.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 every round is traced
and the metrics are the per-layer ones (means per round), the traced
round time and the tracing overhead.  The line before it is
`{"perfbench": {...}}`: workload, seed, host shape and the record of
every operation, which compare.py reads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def host_shape() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"nproc": nproc, "ram_mb": mem_kb // 1024}


def configure_env(work: str, host: dict) -> None:
    """Pin the session to this host and keep every file it writes
    inside `work`: all cores, a driver heap that fits physical RAM,
    and scratch, temp, warehouse and metastore directories."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    heap_mb = min(4096, max(1024, host["ram_mb"] // 8))
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tmp = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={work} '
        '-XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def process_tree() -> dict[int, str]:
    """pid -> command name of this process and all its descendants (the
    driver JVM, the Python worker daemon and its workers)."""
    parent, comm = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        parent[int(p)] = int(tail.split()[1])
        comm[int(p)] = head.split("(", 1)[1]
    me, tree = os.getpid(), {}
    for pid in comm:
        cur = pid
        for _ in range(64):
            if cur == me:
                tree[pid] = comm[pid]
                break
            cur = parent.get(cur, 0)
            if cur <= 1:
                break
    return tree


def reset_peak_rss() -> None:
    """Restart the kernel's resident-memory high-water mark (VmHWM) of
    every process in the tree."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_by_command() -> dict[str, float]:
    """Sum of VmHWM in MB per command name over the process tree: each
    process's peak resident memory since `reset_peak_rss`."""
    out: dict[str, float] = {}
    for pid, name in process_tree().items():
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0.0) + kb / 1024
    return out


class Phases:
    """Marks the build and action phases inside an operation.  The
    operation's time runs from the start of its first phase to the end
    of its last, so the benchmark's own preparation and bookkeeping
    around them are not timed.  Traced, the phases also open spans, and
    builds count the Spark jobs they start."""

    def __init__(self, tracer=None, status=None):
        self.tracer, self.status = tracer, status
        self.start: float | None = None
        self.end: float | None = None
        self.eager_jobs = 0
        self.catalyst: dict[str, float] = {}

    def build(self):
        return self._phase("collection", "build", count_jobs=True)

    def action(self):
        return self._phase("action", "action", count_jobs=False)

    @contextmanager
    def _mark(self):
        t0 = time.perf_counter()
        if self.start is None:
            self.start = t0
        try:
            yield
        finally:
            self.end = time.perf_counter()

    def _phase(self, layer, name, count_jobs):
        if self.tracer is None or not self.tracer.active:
            return self._mark()

        @contextmanager
        def cm():
            with self._mark():
                with self.tracer.overhead():
                    n0 = self.status.jobs_started() if count_jobs else 0
                with self.tracer.span(layer, name):
                    yield
                if count_jobs:
                    with self.tracer.overhead():
                        self.status.drain()
                        self.eager_jobs += self.status.jobs_started() - n0
        return cm()

    def planned(self, df) -> None:
        """Record the Catalyst phase times of `df` (after its action)."""
        if self.tracer is None or not self.tracer.active:
            return
        from tracing import catalyst_phases
        for k, v in catalyst_phases(df).items():
            self.catalyst[k] = self.catalyst.get(k, 0.0) + v


def stop_jvm(spark, timeout: float = 60.0) -> None:
    """Stop the session and the driver JVM PySpark launched, then wait
    until every process this run started (the JVM, the Python worker
    daemon and its workers) has ended."""
    started = set(process_tree()) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while (left := [p for p in started if _alive(p)]):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_gmean(ops, kind: str) -> float:
    """Geometric mean, over the operation names of one kind, of each
    name's median latency.  A workload's operations differ in cost by
    up to 20x, so a median over all of them reads whichever operation
    sits in the middle, and a small shift swaps it for a neighbour of
    another cost; the geometric mean weighs every operation alike."""
    by_name: dict[str, list[float]] = {}
    for o in ops:
        if o["kind"] == kind:
            by_name.setdefault(o["name"], []).append(o["s"])
    if not by_name:
        return 0.0
    return math.exp(statistics.fmean(math.log(median(v)) for v in by_name.values()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every input size (the smoke test uses 0.01)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "dask_expr_spark")):
        print(f"no dask_expr_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    host = host_shape()
    configure_env(work_root, host)
    os.chdir(work_root)

    import datagen
    wl = W.WORKLOADS[args.workload]()
    sf = round(wl.sf * args.scale, 6)
    data_root = os.path.join(work_root, "data")
    data_dir = os.path.join(data_root, f"{wl.name}-sf{sf}-seed{args.seed}")
    _evict_old_data(data_root, keep=5, current=data_dir)
    datagen.generate(data_dir, sf, args.seed, wl.tables)
    input_rows = datagen.table_rows(data_dir, wl.tables)

    import numpy as np
    from dask_expr_spark.session import get_spark

    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark, session_s = None, []
    try:
        # set-up = session start and warm-up (repeated; the median is
        # taken) + the workload's own set-up (once)
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{wl.name}", cpus=host["nproc"])
            W.warm(spark)
            session_s.append(time.perf_counter() - t0)
        ctx = W.Ctx(spark, data_dir, run_dir, np.random.default_rng([args.seed, 0]))
        t0 = time.perf_counter()
        wl.setup(ctx)
        workload_setup_s = time.perf_counter() - t0
        setup_s = median(session_s) + workload_setup_s
        ctx.rng = np.random.default_rng([args.seed, 1])
        result = measure(wl, ctx, args, host, setup_s, input_rows)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    import pandas as pd
    import pyarrow as pa
    import pyspark
    info = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "input_rows": input_rows,
            "host": dict(host, spark=pyspark.__version__, pandas=pd.__version__,
                         pyarrow=pa.__version__,
                         driver_mem=os.environ["SPARK_GRAFT_DRIVER_MEM"],
                         local_dir=result.pop("local_dir")),
            "session_s": session_s, "workload_setup_s": workload_setup_s,
            "round_s": result.pop("round_s"),
            "peak_rss_mb_by_command": result.pop("peak_rss_mb_by_command"),
            "ops": result.pop("ops")}
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result))
    return 0


def _evict_old_data(data_root: str, keep: int, current: str) -> None:
    """Keep the input cache bounded: the `keep` most recently used
    seed directories besides `current`, which is marked as used."""
    os.makedirs(data_root, exist_ok=True)
    if os.path.isdir(current):
        os.utime(current)
    others = [os.path.join(data_root, d) for d in os.listdir(data_root)
              if os.path.join(data_root, d) != current]
    for d in sorted(others, key=os.path.getmtime)[:-keep or None]:
        shutil.rmtree(d, ignore_errors=True)


def measure(wl, ctx, args, host, setup_s, input_rows) -> dict:
    import tracing as T
    import workloads as W

    tracer = status = None
    if args.trace:
        tracer = T.Tracer()
        T.install_layers(tracer)
        status = T.SparkStatus(ctx.spark)
    ops: list[dict] = []
    round_s: list[float] = []
    written = user = 0
    reset_peak_rss()
    timed = 0.0
    r = 0
    tracing = bool(args.trace)
    if tracer is not None:
        tracer.active = True
    while timed < args.seconds:
        round_ops = wl.round(ctx)
        t_round = 0.0
        for op in round_ops:
            rec = {"round": r, "name": op.name, "kind": op.kind, "action": op.action,
                   "rows": 0, "s": 0.0, "failed": False}
            writes = op.kind != "read"
            before = W.dir_files(wl.table_dirs(ctx)) if writes else None
            ph = Phases(tracer, status)
            if tracing:
                status.drain()
                status.jobs(), status.stages(), status.executions()
                tracer.op_id = len(ops)
            w0 = time.time()
            t0 = time.perf_counter()
            out = None
            try:
                if tracing:
                    with tracer.span("op", op.name):
                        out = op.fn(ph)
                else:
                    out = op.fn(ph)
            except Exception as e:  # an operation failure is a measured outcome
                rec["failed"], rec["error"] = True, f"{type(e).__name__}: {e}"[:500]
                traceback.print_exc(file=sys.stderr)
            w1 = time.time()
            dt = time.perf_counter() - t0
            if out is not None and ph.start is not None:
                dt = ph.end - ph.start
            rec["s"] = dt
            t_round += dt
            if out is not None:
                rec["rows"] = int(out.rows)
                rec["check"] = out.check
                if writes:
                    ub = out.user_bytes
                    after = W.dir_files(wl.table_dirs(ctx))
                    wb = sum(s for p, s in after.items() if before.get(p) != s)
                    rec["user_bytes"], rec["bytes_written"] = int(ub), int(wb)
                    rec["files_written"] = sum(1 for p, s in after.items() if before.get(p) != s)
                    written += wb
                    user += ub
            if tracing:
                status.drain()
                jobs = status.jobs()
                rec["jobs"] = len(jobs)
                rec["nojob_s"] = max(0.0, dt - T.covered(jobs, w0, w1))
                rec["stages"] = dict(status.stages())
                rec["sql"] = dict(status.executions())
                rec["catalyst"] = ph.catalyst
                rec["eager_jobs"] = ph.eager_jobs
            ops.append(rec)
        round_s.append(t_round)
        timed += t_round
        # output checks, outside the timed section
        for rec in ops:
            check = rec.pop("check", None)
            if rec["round"] != r or check is None:
                continue
            try:
                errs = check()
            except Exception as e:
                errs = [f"check raised {type(e).__name__}: {e}"]
            if errs:
                rec["failed"] = True
                rec["error"] = "; ".join(errs)[:500]
                print(f"check failed: {rec['name']}: {rec['error']}", file=sys.stderr)
        r += 1
    peak = peak_rss_by_command()
    if tracer is not None:
        tracer.active = False
    final = getattr(wl, "final_check", None)
    if final is not None:
        errs = final(ctx)
        if errs:
            ops.append({"round": r, "name": "final_check", "kind": "read", "action": "collect",
                        "rows": 0, "s": 0.0, "failed": True,
                        "error": "; ".join(errs)[:500]})
    disk = sum(W.dir_files(wl.table_dirs(ctx)).values())
    live = wl.live_bytes(ctx)

    failed = sum(1 for o in ops if o["failed"])
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if not args.trace:
        wall = median(round_s)
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": input_rows / wall if wall else 0.0, "unit": "1/s"},
            "read_op_gmean_s": {"value": op_gmean(ops, "read"), "unit": "s"},
            "write_op_gmean_s": {"value": op_gmean(ops, "write"), "unit": "s"},
            "peak_rss_mb": {"value": sum(peak.values()), "unit": "MB"},
            "write_amp": {"value": written / user if user else 0.0, "unit": "ratio"},
            "space_amp": {"value": disk / live if live else 0.0, "unit": "ratio"},
        }
    else:
        result["metrics"] = layer_metrics(tracer, ops, len(round_s), host["nproc"])
        result["metrics"]["trace.wall_s"] = {"value": median(round_s), "unit": "s"}
        result["metrics"]["trace.overhead_ratio"] = {
            "value": tracer.own_s / (sum(round_s) - tracer.own_s), "unit": "ratio"}
        tracer.dump(os.path.join(ctx.work_dir, "..", f"trace-{wl.name}-seed{args.seed}.json"),
                    [{k: v for k, v in o.items() if k != "check"} for o in ops])
    result["peak_rss_mb_by_command"] = {k: round(v, 1) for k, v in peak.items()}
    result["local_dir"] = ctx.spark.conf.get("spark.local.dir", "<spark default>")
    result["round_s"] = round_s
    result["ops"] = ops
    return result


LAYER_UNITS = {
    "collection.build_s": "s", "collection.eager_jobs": "count",
    "sources.read_calls": "count", "sources.read_s": "s",
    "scan.files_read": "count", "scan.files_pruned_ratio": "ratio",
    "scan.rows_out": "count", "scan.time_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "stage.jobs": "count", "stage.count": "count", "stage.tasks": "count",
    "stage.run_s": "s", "stage.cpu_s": "s", "stage.gc_s": "s", "stage.util": "ratio",
    "stage.input_bytes": "B", "stage.shuffle_read_bytes": "B",
    "stage.shuffle_write_bytes": "B", "stage.spill_bytes": "B", "stage.output_bytes": "B",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "B", "python.bytes_returned": "B", "python.rows_returned": "count",
    "maintenance.calls": "count", "maintenance.s": "s", "maintenance.commits": "count",
    "maintenance.files_written": "count", "maintenance.bytes_written": "B",
    "fsops.calls": "count", "fsops.list_calls": "count", "fsops.s": "s",
    "action.s": "s", "action.rows": "count", "driver.nojob_s": "s",
}


def layer_metrics(tracer, ops, rounds, cores) -> dict:
    """Per-layer metrics: means per round, and two ratios."""
    from collections import Counter
    self_s = tracer.self_times(set(range(len(ops))))
    c = tracer.counts
    # operations that called into the maintenance layer own its writes
    maint_ops = {s[2] for s in tracer.spans if s is not None and s[3] == "maintenance"}
    tot = Counter()
    for i, o in enumerate(ops):
        tot.update(o.get("stages", {}))
        tot.update(o.get("sql", {}))
        tot.update(o.get("catalyst", {}))
        tot["stage.jobs"] += o.get("jobs", 0)
        tot["collection.eager_jobs"] += o.get("eager_jobs", 0)
        tot["driver.nojob_s"] += o.get("nojob_s", 0.0)
        tot["action.rows"] += o["rows"]
        if i in maint_ops:
            tot["maintenance.files_written"] += o.get("files_written", 0)
            tot["maintenance.bytes_written"] += o.get("bytes_written", 0)
    tot.update({
        "collection.build_s": self_s.get("collection", 0.0),
        "sources.read_calls": c["sources:read_parquet"] + c["sources:read_skipping"],
        "sources.read_s": self_s.get("sources", 0.0),
        "maintenance.calls": sum(v for k, v in c.items() if k.startswith("maintenance:"))
        - c["maintenance:_write_commit"],
        "maintenance.s": self_s.get("maintenance", 0.0),
        "maintenance.commits": c["maintenance:_write_commit"],
        "fsops.calls": sum(v for k, v in c.items() if k.startswith("fsops:")),
        "fsops.list_calls": c["fsops:listdir"] + c["fsops:walk_files"],
        "fsops.s": self_s.get("fsops", 0.0),
        "action.s": self_s.get("action", 0.0),
    })
    vals = {k: float(tot.get(k, 0.0)) / max(1, rounds) for k in LAYER_UNITS}
    wall = sum(o["s"] for o in ops)
    zm_total = c["zonemap:files_total"]
    vals["scan.files_pruned_ratio"] = 1.0 - c["zonemap:files_kept"] / zm_total if zm_total else 0.0
    vals["stage.util"] = tot["stage.run_s"] / (wall * cores) if wall else 0.0
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in vals.items()}


if __name__ == "__main__":
    sys.exit(main())
