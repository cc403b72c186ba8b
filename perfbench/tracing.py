"""Layer tracing for the benchmark's traced run.

Everything here observes the engine from outside: wrappers around the
public functions of each layer module (installed only in a traced run),
spans the benchmark opens around facade builds and result actions, and
reads of Spark's own status stores, which are kept with
``spark.ui.enabled=false``.

A span is (id, parent id, operation id, layer, name, start, end).
Spans stay in memory and are written out when the run ends.  A layer's
self time is the sum over its spans of duration minus the time covered
by child spans.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self.active = False
        self.op_id: int | None = None
        # seconds the tracing itself spent inside timed operations
        self.own_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield
            return
        e0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, parent, self.op_id, layer, name, t0, t1)
            self.own_s += (t0 - e0) + (time.perf_counter() - t1)

    @contextmanager
    def overhead(self):
        """Account the enclosed tracing work as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    def count(self, key: str, n: int = 1) -> None:
        if self.active:
            self.counts[key] += n

    def _wrapper(self, fn, layer: str, name: str, materialize: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            tracer.counts[f"{layer}:{name}"] += 1
            with tracer.span(layer, name):
                out = fn(*a, **kw)
                # generators do their work while consumed: drain inside
                # the span so the time lands on this layer
                return iter(list(out)) if materialize else out
        return traced

    def wrap_function(self, module, name: str, layer: str) -> None:
        orig = getattr(module, name)
        replace_everywhere(orig, self._wrapper(orig, layer, name, False))

    def wrap_method(self, cls, name: str, layer: str, materialize: bool = False) -> None:
        setattr(cls, name, self._wrapper(getattr(cls, name), layer, name, materialize))

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Self time per layer over the spans of `op_ids`."""
        spans = [s for s in self.spans if s is not None and s[2] in op_ids]
        child = defaultdict(float)
        for s in spans:
            if s[1] is not None:
                child[s[1]] += s[6] - s[5]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s[3]] += (s[6] - s[5]) - child[s[0]]
        return out

    def dump(self, path: str, ops: list[dict]) -> None:
        spans = [dict(zip(("id", "parent", "op", "layer", "name", "start", "end"), s))
                 for s in self.spans if s is not None]
        with open(path, "w") as fh:
            json.dump({"ops": ops, "spans": spans}, fh)


def install_layers(tracer: Tracer) -> None:
    """Wrap the public entry points of the layers the workloads reach."""
    from dask_expr_spark import fsops
    from dask_expr_spark.functions import maintenance
    from dask_expr_spark.sources import io, zonemap

    tracer.wrap_function(io, "read_parquet", "sources")
    for name in ("read_skipping", "zone_prune", "build_zonemap"):
        tracer.wrap_function(zonemap, name, "sources")
    for name, fn in list(vars(maintenance).items()):
        if (callable(fn) and not name.startswith("_")
                and getattr(fn, "__module__", "") == maintenance.__name__):
            tracer.wrap_function(maintenance, name, "maintenance")
    tracer.wrap_function(maintenance, "_write_commit", "maintenance")
    for name in ("exists", "isdir", "isfile", "listdir", "mkdirs", "rename",
                 "delete", "getsize", "getmtime", "read_text",
                 "write_text_atomic", "write_text_exclusive"):
        tracer.wrap_method(fsops.PosixFS, name, "fsops")
    tracer.wrap_method(fsops.PosixFS, "walk_files", "fsops", materialize=True)
    # zone-map pruning outcome, for scan.files_pruned_ratio
    orig = zonemap.zone_prune

    @functools.wraps(orig)
    def pruned(*a, **kw):
        survivors, total = orig(*a, **kw)
        tracer.count("zonemap:files_total", total)
        tracer.count("zonemap:files_kept", len(survivors))
        return survivors, total
    replace_everywhere(orig, pruned)


def replace_everywhere(orig, new) -> None:
    """Rebind every engine-module name that refers to `orig` to `new`,
    including names other modules imported with `from ... import`."""
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("dask_expr_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)


# -- Spark status stores ---------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the task total when Spark
    prints a `total (min, med, max ...)` summary, in bytes, seconds or
    a plain count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


class SparkStatus:
    """New jobs, stages and SQL executions since the last call, read
    from the application and SQL status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._empty = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self.drain()
        self._job = self._max_id(self._store.jobsList(self._empty), "jobId")
        self._stage = self._max_id(self._stage_list(), "stageId")
        self._exec = int(self._sql.executionsCount())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stage_list(self):
        return self._store.stageList(self._empty, False, False, self._quantiles, self._empty)

    @staticmethod
    def _max_id(lst, attr) -> int:
        it = lst.iterator()
        return int(getattr(it.next(), attr)()) if it.hasNext() else -1

    def jobs_started(self) -> int:
        """Jobs submitted since the last `jobs()` call (no drain)."""
        it = self._store.jobsList(self._empty).iterator()
        n = 0
        while it.hasNext() and int(it.next().jobId()) > self._job:
            n += 1
        return n

    def jobs(self) -> list[tuple[float, float]]:
        """(start, end) epoch seconds of jobs since the last call."""
        out, top = [], self._job
        it = self._store.jobsList(self._empty).iterator()
        while it.hasNext():
            j = it.next()
            jid = int(j.jobId())
            if jid <= self._job:
                break
            top = max(top, jid)
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None:
                out.append((start, end if end is not None else start))
        self._job = top
        return out

    def stages(self) -> dict[str, float]:
        tot = Counter()
        top = self._stage
        it = self._stage_list().iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            if sid <= self._stage:
                break
            top = max(top, sid)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            tot["stage.count"] += 1
            tot["stage.tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            tot["stage.run_s"] += int(s.executorRunTime()) / 1e3
            tot["stage.cpu_s"] += int(s.executorCpuTime()) / 1e9
            tot["stage.gc_s"] += int(s.jvmGcTime()) / 1e3
            tot["stage.input_bytes"] += int(s.inputBytes())
            tot["stage.shuffle_read_bytes"] += int(s.shuffleReadBytes())
            tot["stage.shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            tot["stage.spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            tot["stage.output_bytes"] += int(s.outputBytes())
        self._stage = top
        return tot

    def executions(self) -> dict[str, float]:
        """Scan and Python-boundary SQL metrics of new executions."""
        tot = Counter()
        n = int(self._sql.executionsCount())
        if n <= self._exec:
            return tot
        it = self._sql.executionsList(self._exec, n - self._exec).iterator()
        self._exec = n
        while it.hasNext():
            eid = it.next().executionId()
            values = {}
            vi = self._sql.executionMetrics(eid).iterator()
            while vi.hasNext():
                kv = vi.next()
                values[kv._1()] = kv._2()
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                scan = name.startswith("Scan ")
                python = "Python" in name or "InPandas" in name or "InArrow" in name
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    key = PYTHON_METRICS.get(m.name())
                    if key is None and scan:
                        key = {"number of files read": "scan.files_read",
                               "number of output rows": "scan.rows_out",
                               "scan time": "scan.time_s"}.get(m.name())
                    if key is None and python and m.name() == "number of output rows":
                        key = "python.rows_returned"
                    if key is None:
                        continue
                    text = values.get(m.accumulatorId())
                    if text is not None:
                        tot[key] += parse_metric(text)
        return tot


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds of `df`'s last
    execution, from its QueryExecution's phase tracker."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for phase, key in (("analysis", "catalyst.analysis_s"),
                       ("optimization", "catalyst.optimization_s"),
                       ("planning", "catalyst.planning_s")):
        p = phases.get(phase)
        if p.isDefined():
            out[key] = int(p.get().durationMs()) / 1e3
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
