"""One benchmark run inside the program's own process: start the
session, load the registry, then drive the workload's queries as one
closed-loop client (each query starts when the previous one finished),
checking every result against its DuckDB oracle.

Started by ``run.py``, which pins the environment, measures set-up time
from the ``READY`` line this process prints, and samples memory. The
result goes to ``<run-dir>/result.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from collections import defaultdict

from workloads import WORKLOADS, nproc


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    return ap.parse_args()


# Warm-up goes on for several passes on this engine (JIT, codegen
# caches, Python worker reuse): passes 1-3 after the cold one still run
# 10-40% slower than later ones, and how fast they shrink varies from
# run to run. They are run and checked but not timed into warm_s.
WARMUP_PASSES = 3
MIN_WARM_PASSES = 5


class Client:
    """Runs queries, checks them, and keeps the counts."""

    def __init__(self, spark, registry, data_dir, expected, tracer=None,
                 harvest=None, stream=None):
        self.spark, self.registry, self.data_dir = spark, registry, data_dir
        self.expected = expected
        self.tracer, self.harvest, self.stream = tracer, harvest, stream
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        # traced passes: query -> metric -> summed value
        self.layer_sums: dict[str, dict] = {}

    def run_query(self, name: str, traced: bool) -> float:
        """Build and collect one query; return its wall time. The
        oracle comparison runs after the clock stops."""
        fn = self.registry[name]
        tr = self.tracer if traced else None
        self.attempted += 1
        agg = defaultdict(float) if tr else None
        # a full GC between queries, outside the clock, so a collection
        # owed by the previous query does not land in this one
        self.spark.sparkContext._jvm.System.gc()
        if tr:
            tr.enabled, tr.query = True, name
            job0, exec0 = self.harvest.last_job(), self.harvest.last_execution()
            gc0 = self.harvest.gc_s()
            self.stream.take()
            q = tr.open(name, "harness")
        t0 = time.perf_counter()
        try:
            if tr:
                sp = tr.open("build", "queries")
                df = fn(self.spark, self.data_dir)
                tr.close(sp)
                job_built = self.harvest.last_job()
                sp = tr.open("plan", "catalyst")
                df._jdf.queryExecution().executedPlan()
                tr.close(sp)
                sp = tr.open("collect", "execute")
                rows = df.collect()
                tr.close(sp)
            else:
                df = fn(self.spark, self.data_dir)
                rows = df.collect()
            cols = df.columns
        except Exception:  # noqa: BLE001 — a raised query is a counted failure
            self.failed += 1
            self.problems.append(f"{name}: raised\n{traceback.format_exc()}")
            print(f"perfbench: {name} raised", file=sys.stderr)
            traceback.print_exc()
            return time.perf_counter() - t0
        finally:
            if tr:
                tr.close(q)
                tr.enabled = False
        elapsed = time.perf_counter() - t0
        if tr:
            agg["queries.eager_jobs"] = job_built - job0
            self.harvest.collect(job0, exec0, agg)
            agg["jvm.gc_s"] = self.harvest.gc_s() - gc0
            from layers import add_stream

            add_stream(self.stream.take(), agg)
            self._fold(name, agg)
        self.check(name, cols, rows)
        return elapsed

    def _fold(self, name: str, agg: dict) -> None:
        acc = self.layer_sums.setdefault(name, defaultdict(float))
        for k, v in agg.items():
            if k == "stream.batch_list":
                acc.setdefault(k, []).extend(v)
            elif k in ("mem.peak_bytes", "state.memory_bytes"):
                acc[k] = max(acc[k], v)
            else:
                acc[k] += v

    def check(self, name: str, cols, rows) -> None:
        from oracle import mismatch

        self.attempted += 1
        exp = self.expected.get(name)
        why = "oracle failed to run" if exp is None else mismatch(exp, cols, rows)
        if why is not None:
            self.failed += 1
            self.problems.append(f"{name}: {why}")
            print(f"perfbench: {name} does not match its oracle: {why}",
                  file=sys.stderr)

    def run_pass(self, names, traced: bool) -> dict[str, float]:
        return {n: self.run_query(n, traced) for n in names}


# Streaming registry queries stage their files and checkpoints under
# this fixed prefix; a run may write only inside its own directory.
GATE_SCRATCH = "/tmp/bento_spark_gate"


def relocate_scratch(fns, root: str) -> None:
    """Point the query functions' fixed scratch prefix at ``root`` by
    rewriting that string constant in their code objects (the source
    files stay untouched)."""
    for fn in fns:
        code = fn.__code__
        consts = tuple(
            root + c[len(GATE_SCRATCH):]
            if isinstance(c, str) and c.startswith(GATE_SCRATCH) else c
            for c in code.co_consts
        )
        if consts != code.co_consts:
            fn.__code__ = code.replace(co_consts=consts)


def oracle_results(data_dir, run_dir, names, sql) -> tuple[dict, float]:
    # imported after READY: the oracle is not part of the program's set-up
    from oracle import Oracle

    t0 = time.perf_counter()
    tmp = os.path.join(run_dir, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    orc = Oracle(data_dir, nproc(), tmp)
    out = {}
    try:
        for n in names:
            try:
                out[n] = orc.expected(sql[n])
            except Exception:  # noqa: BLE001 — counted on every comparison
                print(f"perfbench: oracle for {n} raised", file=sys.stderr)
                traceback.print_exc()
    finally:
        orc.close()
    return out, time.perf_counter() - t0


def main() -> int:
    a = _args()
    wl = WORKLOADS[a.workload]
    tracer = None
    if a.trace:
        from layers import Tracer

        tracer = Tracer()
        tracer.install()  # before the registry imports the functions
    from bento_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    import __spark_entry__ as entry

    registry, sql = entry.queries(), entry.oracle_sql()
    if tracer:
        tracer.sweep()
    print("READY", flush=True)

    missing = [n for n in wl.queries if n not in registry or n not in sql]
    if missing:
        print(f"perfbench: no query or oracle for {missing}", file=sys.stderr)
        spark.stop()
        return 2

    relocate_scratch(
        (registry[n] for n in wl.queries), os.path.join(a.run_dir, "tmp", "gate")
    )
    expected, oracle_s = oracle_results(a.data, a.run_dir, wl.queries, sql)
    harvest = stream = None
    if tracer:
        from layers import SparkHarvest, StreamProgress

        harvest, stream = SparkHarvest(spark), StreamProgress(spark)
    client = Client(spark, registry, a.data, expected, tracer, harvest, stream)

    t_check = time.perf_counter()
    cold = client.run_pass(wl.queries, traced=False)
    warmup = [client.run_pass(wl.queries, traced=False) for _ in range(WARMUP_PASSES)]
    warm: list[dict[str, float]] = []
    traced_flags: list[bool] = []
    deadline = time.perf_counter() + a.seconds
    # The traced run alternates untraced and traced passes, starting and
    # (with an odd MIN_WARM_PASSES) ending untraced, to measure its
    # overhead.
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() < deadline:
        traced = bool(tracer) and len(warm) % 2 == 1
        warm.append(client.run_pass(wl.queries, traced))
        traced_flags.append(traced)

    # warm_s sums each query's fastest untraced timed pass. Other programs
    # on a shared host slow whole stretches of a run, by up to a third;
    # a query's fastest pass is the one they touched least, so the sum
    # moves less between runs than the median pass does. The pass times
    # (for their median and quartiles) go into the summary.
    plain = [p for p, t in zip(warm, traced_flags) if not t]
    result = {
        "workload": wl.name,
        "attempted": client.attempted,
        "failed": client.failed,
        "problems": client.problems,
        "session_s": session_s,
        "oracle_s": oracle_s,
        "cold_s": sum(cold.values()),
        "cold": cold,
        "warmup_passes": [sum(p.values()) for p in warmup],
        "warm_s": sum(min(p[q] for p in plain) for q in wl.queries),
        "warm_passes": [sum(p.values()) for p in warm],
        "warm": warm,
        "traced_passes": traced_flags,
    }
    if tracer:
        import bench
        from layers import report

        result["trace"] = report(
            tracer, client.layer_sums, result, bench.run_canary(spark)
        )
    result["check_s"] = time.perf_counter() - t_check
    with open(os.path.join(a.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # no orderly Spark shutdown: run.py stops the whole process group
    os._exit(code)
