"""Per-layer tracing for the traced run.

Two sources, both read from the benchmark's side of the program:

* Driver-side spans around the public calls of each ``bento_spark``
  layer (``plans``, ``bloblang``, ``operators``, ``sinks``), installed
  before the registry is loaded and swept into every module that
  imported the functions by name. A span's self time is its duration
  minus the time its child spans cover.
* Spark's own status stores, read after each query for the jobs and
  SQL executions that query started: ``statusTracker`` for jobs and
  stages, ``statusStore().stageData`` for task time, CPU and GC, and
  the SQL status store's ``planGraph``/``executionMetrics`` for scan,
  codegen, Python, shuffle, broadcast and memory. Micro-batch phases
  come from a ``StreamingQueryListener``.

Executor-side metrics are summed over tasks (they can exceed wall
time on several cores); driver-side self times are wall time and add
up to the query's wall time.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import sys
import threading
import time
from collections import defaultdict

# per-layer metric -> unit; the traced run emits exactly these
METRICS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_calls": "count",
    "bloblang.compile_s": "s",
    "bloblang.compile_calls": "count",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "execute.wall_s": "s",
    "operators.spread_calls": "count",
    "operators.spreads_applied": "ratio",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.single_task_stages": "count",
    "tasks.run_s": "s",
    "tasks.cpu_s": "s",
    "tasks.gc_s": "s",
    "tasks.skew": "ratio",
    "scan.time_s": "s",
    "scan.files": "count",
    "scan.bytes": "B",
    "scan.rows": "count",
    "codegen.pipeline_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_recv": "B",
    "shuffle.write_s": "s",
    "shuffle.bytes_written": "B",
    "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "broadcast.collect_s": "s",
    "broadcast.build_s": "s",
    "broadcast.bytes": "B",
    "jvm.gc_s": "s",
    "mem.peak_bytes": "B",
    "mem.spill_bytes": "B",
    "stream.batches": "count",
    "stream.batch_s.p50": "s",
    "stream.batch_s.p90": "s",
    "stream.rows_per_s": "rows/s",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.latest_offset_s": "s",
    "stream.get_batch_s": "s",
    "state.rows_total": "count",
    "state.commit_s": "s",
    "state.memory_bytes": "B",
    "connector.deliver_s": "s",
    "connector.delivered": "count",
    "connector.dead": "count",
    "oracle.check_s": "s",
    "host.canary_s": "s",
    "trace.overhead_s": "s",
}

# (layer, module, attribute); "Class.method" wraps a method
WRAPPED = (
    ("plans", "bento_spark.plans.config", "load_config"),
    ("plans", "bento_spark.plans.pipeline", "build_pipeline"),
    ("bloblang", "bento_spark.bloblang.compiler", "compile_mapping"),
    ("bloblang", "bento_spark.bloblang.compiler", "compile_expr"),
    ("bloblang", "bento_spark.bloblang.compiler", "MappingPlan.apply"),
    ("bloblang", "bento_spark.bloblang.compiler", "MappingPlan.compile_for"),
    ("operators", "bento_spark.operators.dedup", "ensure_parallelism"),
    ("connector", "bento_spark.sinks.connector", "deliver"),
)

# SQL plan-graph metric name -> layer metric (summed over nodes)
_SQL_SUM = {
    "scan time": "scan.time_s",
    "number of files read": "scan.files",
    "size of files read": "scan.bytes",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
    "shuffle write time": "shuffle.write_s",
    "shuffle bytes written": "shuffle.bytes_written",
    "shuffle records written": "shuffle.records",
    "fetch wait time": "shuffle.fetch_wait_s",
    "spill size": "mem.spill_bytes",
}
_BROADCAST = {
    "time to collect": "broadcast.collect_s",
    "time to build": "broadcast.build_s",
    "data size": "broadcast.bytes",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50,
}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value as a number in base units (seconds,
    bytes, rows): ``"1,000"``, ``"2.2 s"``, or the multi-task form
    ``"total (min, med, max ...)\\n55 ms (22 ms, ...)"``."""
    total = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(total[0].replace(",", ""))
    return value * _UNITS[total[1]] if len(total) > 1 else value


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "child_s", "query")

    def __init__(self, name, layer, parent, query):
        self.name, self.layer, self.parent, self.query = name, layer, parent, query
        self.start, self.end, self.child_s = time.perf_counter(), None, 0.0


class Tracer:
    """Spans and counts for the traced passes. Spans opened on threads
    other than the one that runs the passes (streaming callbacks) are
    kept but not nested; they are reported per layer, outside the
    self-time table."""

    def __init__(self):
        self.enabled = False
        self.query: str | None = None
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack = threading.local()
        self._main = threading.get_ident()
        self._originals: dict[int, object] = {}

    # -- spans -----------------------------------------------------------
    def _st(self) -> list:
        st = getattr(self._stack, "s", None)
        if st is None:
            st = self._stack.s = []
        return st

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        st = self._st()
        sp = Span(name, layer, st[-1] if st else None, self.query)
        st.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        st = self._st()
        while sp in st:  # also drops children a raised call left open
            st.pop()
        if sp.parent is not None:
            sp.parent.child_s += sp.end - sp.start
        if threading.get_ident() == self._main:
            self.spans.append(sp)
        else:
            self.counts[f"offthread.{sp.layer}_s"] += sp.end - sp.start

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sp)
            if sp is not None:
                tracer._count(name, args[0] if args else None, out)
            return out

        return traced

    def _count(self, name: str, first_arg, out) -> None:
        c = self.counts
        if name == "ensure_parallelism":
            # the guard returns its input unchanged when it adds no exchange
            c["operators.spread_calls"] += 1
            c["operators.spreads_added"] += out is not first_arg
        elif name == "deliver" and isinstance(out, dict):
            c["connector.delivered"] += out.get("delivered", 0)
            c["connector.dead"] += out.get("dead", 0)
        elif name in ("load_config", "build_pipeline"):
            c["plans.build_calls"] += 1
        else:
            c["bloblang.compile_calls"] += 1

    def install(self) -> None:
        """Wrap every WRAPPED function; call before the registry loads."""
        for layer, modname, attr in WRAPPED:
            mod = importlib.import_module(modname)
            owner, _, meth = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            fn = getattr(holder, meth)
            wrapped = self._wrap(fn, layer, meth)
            self._originals[id(fn)] = wrapped
            setattr(holder, meth, wrapped)

    def sweep(self) -> None:
        """Re-point names imported before install() (``from x import f``)
        at the wrappers, in every loaded ``bento_spark`` module."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname.startswith("bento_spark") or modname == "__spark_entry__"
            ):
                continue
            for k, v in list(vars(mod).items()):
                w = self._originals.get(id(v))
                if w is not None and v is not w:
                    setattr(mod, k, w)


class StreamProgress:
    """Collects every StreamingQueryProgress of the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        lock = self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "id": (str(p.runId), p.batchId),
                    "d": dict(p.durationMs or {}),
                    "rows": p.numInputRows or 0,
                    "state": [
                        (s.numRowsTotal, s.commitTimeMs, s.memoryUsedBytes)
                        for s in (p.stateOperators or [])
                    ],
                }
                with lock:
                    events.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> list[dict]:
        with self.lock:
            out, self.events[:] = list(self.events), []
        return out


class SparkHarvest:
    """Reads the jobs, stages and SQL executions a query started."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(self.jvm.double, 0)
        self._q = sc._gateway.new_array(self.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self._gc_beans = list(
            self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def last_job(self) -> int:
        it = self.store.jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def last_execution(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).head().executionId()

    def jobs_after(self, job_id: int) -> list[int]:
        out, it = [], self.store.jobsList(None).iterator()
        while it.hasNext():  # newest first
            j = it.next().jobId()
            if j <= job_id:
                break
            out.append(j)
        return out

    def collect(self, job_id: int, exec_id: int, agg: dict) -> None:
        """Add the layer metrics of every job after ``job_id`` and every
        SQL execution after ``exec_id`` into ``agg``."""
        stages = set()
        for j in self.jobs_after(job_id):
            agg["sched.jobs"] += 1
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        skew_w = skew_t = 0.0
        for sid in stages:
            it = self.store.stageData(sid, False, self._empty, False, self._no_q).iterator()
            while it.hasNext():
                s = it.next()
                if s.status().toString() != "COMPLETE":
                    continue
                n = s.numTasks()
                run = s.executorRunTime() / 1000.0
                agg["sched.stages"] += 1
                agg["sched.tasks"] += n
                agg["sched.single_task_stages"] += n == 1
                agg["tasks.run_s"] += run
                agg["tasks.cpu_s"] += s.executorCpuTime() / 1e9
                agg["tasks.gc_s"] += s.jvmGcTime() / 1000.0
                if n >= 2 and run > 0:
                    dist = self.store.taskSummary(sid, s.attemptId(), self._q)
                    if dist.isDefined():
                        rt = dist.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            skew_w += run * (mx / med)
                            skew_t += run
        agg["tasks.skew_weighted"] += skew_w
        agg["tasks.skew_run_s"] += skew_t

        # executions are listed oldest first; one query starts far fewer
        # than 64 of them
        n = self.sql.executionsCount()
        k = min(n, 64)
        it = self.sql.executionsList(n - k, k).iterator() if k else None
        while it is not None and it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= exec_id:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                nname = node.name()
                mets = node.metrics().iterator()
                while mets.hasNext():
                    m = mets.next()
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    mname = m.name()
                    key = _SQL_SUM.get(mname)
                    if nname.startswith("BroadcastExchange"):
                        key = _BROADCAST.get(mname, key)
                    elif mname == "duration" and nname.startswith("WholeStageCodegen"):
                        key = "codegen.pipeline_s"
                    elif mname == "number of output rows" and nname.startswith("Scan"):
                        key = "scan.rows"
                    elif mname == "peak memory":
                        agg["mem.peak_bytes"] = max(
                            agg["mem.peak_bytes"], parse_sql_metric(v.get())
                        )
                        continue
                    if key is not None:
                        agg[key] += parse_sql_metric(v.get())


def add_stream(events: list[dict], agg: dict) -> None:
    """Fold micro-batch progress records into ``agg``."""
    phases = {
        "addBatch": "stream.add_batch_s",
        "queryPlanning": "stream.planning_s",
        "walCommit": "stream.wal_commit_s",
        "commitOffsets": "stream.commit_offsets_s",
        "latestOffset": "stream.latest_offset_s",
        "getBatch": "stream.get_batch_s",
    }
    seen = set()
    for e in events:
        if e["id"] in seen:
            continue  # an idle trigger re-reports the last batch
        seen.add(e["id"])
        agg["stream.batches"] += 1
        agg["stream.rows"] += e["rows"]
        agg.setdefault("stream.batch_list", []).append(
            e["d"].get("triggerExecution", 0) / 1000.0
        )
        for k, name in phases.items():
            agg[name] += e["d"].get(k, 0) / 1000.0
        for rows, commit_ms, mem in e["state"]:
            agg["state.rows_total"] += rows
            agg["state.commit_s"] += commit_ms / 1000.0
            agg["state.memory_bytes"] = max(agg["state.memory_bytes"], mem)


def self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """query -> layer -> self seconds, from the main-thread spans."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        if sp.query is not None:
            out[sp.query][sp.layer] += (sp.end - sp.start) - sp.child_s
    return out


def quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def overhead(passes: list[float], traced: list[bool]) -> float:
    """Mean of each traced pass minus the mean of the untraced passes on
    either side of it, which cancels a linear warm-up trend."""
    diffs = [
        passes[i] - (passes[i - 1] + passes[i + 1]) / 2
        for i in range(1, len(passes) - 1)
        if traced[i] and not traced[i - 1] and not traced[i + 1]
    ]
    return statistics.mean(diffs) if diffs else 0.0


def report(tracer: Tracer, layer_sums: dict, result: dict, canary_s: float) -> dict:
    """Per-layer metrics (per traced warm pass), the per-query and
    per-workload self-time tables, and the raw spans."""
    traced = [p for p, t in zip(result["warm_passes"], result["traced_passes"]) if t]
    plain = [p for p, t in zip(result["warm_passes"], result["traced_passes"]) if not t]
    n = max(1, len(traced))
    warm_traced = statistics.median(traced)

    total: dict = defaultdict(float)
    batches: list[float] = []
    stream_wall = 0.0
    per_query_self = self_times(tracer.spans)
    for q, acc in layer_sums.items():
        for k, v in acc.items():
            if k == "stream.batch_list":
                batches.extend(v)
                stream_wall += sum(per_query_self[q].values())
            elif k in ("mem.peak_bytes", "state.memory_bytes"):
                total[k] = max(total[k], v)
            else:
                total[k] += v
    for k, v in tracer.counts.items():
        total[k] += v

    layer_self: dict = defaultdict(float)
    for q, layers in per_query_self.items():
        for layer, s in layers.items():
            layer_self[layer] += s
    metrics = {}
    for name in METRICS:
        if name in ("mem.peak_bytes", "state.memory_bytes"):
            metrics[name] = total[name]
        else:
            metrics[name] = total[name] / n
    metrics.update({
        "session.start_s": result["session_s"],
        "plans.build_s": layer_self.get("plans", 0.0) / n,
        "bloblang.compile_s": layer_self.get("bloblang", 0.0) / n,
        "queries.build_s": layer_self.get("queries", 0.0) / n,
        "catalyst.plan_s": layer_self.get("catalyst", 0.0) / n,
        "execute.wall_s": layer_self.get("execute", 0.0) / n,
        "connector.deliver_s": layer_self.get("connector", 0.0) / n,
        "operators.spreads_applied": (
            total["operators.spreads_added"] / total["operators.spread_calls"]
            if total["operators.spread_calls"] else 0.0
        ),
        "tasks.skew": (
            total["tasks.skew_weighted"] / total["tasks.skew_run_s"]
            if total["tasks.skew_run_s"] else 0.0
        ),
        "stream.batch_s.p50": quantile(batches, 0.5),
        "stream.batch_s.p90": quantile(batches, 0.9),
        "stream.rows_per_s": total["stream.rows"] / stream_wall if stream_wall else 0.0,
        "oracle.check_s": result["oracle_s"],
        "host.canary_s": canary_s,
        "trace.overhead_s": overhead(result["warm_passes"], result["traced_passes"]),
    })

    def table(layers: dict) -> dict:
        return {
            layer: {"self_s": s / n, "share_of_warm": s / n / warm_traced}
            for layer, s in sorted(layers.items(), key=lambda kv: -kv[1])
        }

    return {
        "metrics": metrics,
        "traced_warm_s": warm_traced,
        "untraced_warm_s": statistics.median(plain) if plain else None,
        "self_time_sum_s": sum(layer_self.values()) / n,
        "self_time": table(layer_self),
        "self_time_by_query": {q: table(ls) for q, ls in per_query_self.items()},
        "counts_by_query": {
            q: {k: v for k, v in acc.items() if k != "stream.batch_list"}
            for q, acc in layer_sums.items()
        },
        "offthread_s": {k: v for k, v in tracer.counts.items() if k.startswith("offthread.")},
        "spans": [
            {
                "query": sp.query, "layer": sp.layer, "name": sp.name,
                "start": sp.start, "end": sp.end,
                "parent": None if sp.parent is None else id(sp.parent),
                "id": id(sp),
            }
            for sp in tracer.spans
        ],
    }
