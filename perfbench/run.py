"""bento_spark benchmark: one workload per run, one fresh process per run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. generates the workload's inputs from ``--seed`` (cached per seed,
   scale and layout under ``.perfbench/inputs``), outside every timing;
2. starts the program in a child process with an environment pinned to
   this host (CPU count, a driver heap sized to RAM, the checkout on
   ``PYTHONPATH``, fresh Spark local and temp directories inside the
   run directory), and measures set-up time from launch to a ready
   session with the registry loaded;
3. runs one cold pass over the workload's queries, three warm-up
   passes, then the timed warm passes (at least five, and for at least
   ``--seconds``), each result checked against its DuckDB oracle;
   ``warm_s`` sums each query's fastest timed pass;
4. prints one JSON line: the end-to-end metrics (``--trace 0``) or the
   per-layer metrics of a traced run (``--trace 1``, which also writes
   ``.perfbench/trace-<workload>-seed<seed>.json``).

Exits non-zero without a result when the checkout does not hold the
program, or when the run does not finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("__spark_entry__.py", "bench.py", "bento_spark/session.py",
            "tools/gen_testdata.py", "tools/check.py")

RUN_TIMEOUT_S = 165.0

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "peak_rss_mb": "MB",
}


def _args() -> argparse.Namespace:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knob: a smaller scale than the workload's own
    ap.add_argument("--sf", type=float, default=None)
    a = ap.parse_args()
    if a.seed < 0 or a.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    return a


def driver_memory() -> str:
    """A driver heap that fits this host: a sixth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mib = min(4096, max(1024, kib // 1024 // 6))
    return f"{mib}m"


def program_env(run_dir: str) -> dict:
    from workloads import nproc

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        # Python workers import bento_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # JVM scratch (native-library extraction, temp checkpoints) stays
        # in the run directory; no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        # the same string-hash order in every run: with a random one per
        # process, 4 of 10 pipeline runs stayed ~25% slower for their
        # whole life; with it fixed, 1 of 22 did
        "PYTHONHASHSEED": "0",
    })
    return env


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, process group, start time) from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(d)] = (int(fields[1]), int(fields[2]), int(fields[19]))
    return table


def _rss_bytes(pid: int) -> tuple[int, int]:
    """Current and high-water RSS of a process, from /proc."""
    rss = hwm = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmRSS:"):
                    rss = int(ln.split()[1]) * 1024
                elif ln.startswith("VmHWM:"):
                    hwm = int(ln.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return rss, hwm


class RssSampler(threading.Thread):
    """Peak RSS of the JVM under ``pid`` and the JVM's Python workers
    (every descendant of ``pid``): the sum of each process's own
    high-water mark, which the kernel keeps, so a short spike between
    two samples still counts (``sampled`` is the peak of the summed
    current RSS, for comparison). Also remembers every descendant it
    saw, so they can be waited for."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.sampled = 0
        self.hwm: dict[tuple[int, int], int] = {}  # (pid, start time) -> bytes
        self.seen: dict[int, int] = {}  # pid -> start time
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.is_set():
            table = _proc_table()
            kids: dict[int, list[int]] = {}
            for pid, (ppid, _, _) in table.items():
                kids.setdefault(ppid, []).append(pid)
            stack, total = list(kids.get(self.pid, [])), 0
            while stack:
                p = stack.pop()
                self.seen[p] = table[p][2]
                rss, hwm = _rss_bytes(p)
                total += rss
                key = (p, table[p][2])
                self.hwm[key] = max(self.hwm.get(key, 0), hwm)
                stack.extend(kids.get(p, []))
            self.sampled = max(self.sampled, total)
            self.stop_event.wait(self.period)

    def stop(self) -> int:
        self.stop_event.set()
        self.join()
        return sum(self.hwm.values())


def _reap(proc: subprocess.Popen, seen: dict[int, int] | None = None) -> None:
    """Stop the worker's process group and wait until every process in
    it, and in the groups of the processes seen under it (the Python
    daemon runs its workers in a group of its own), has ended; whatever
    outlives the JVM by 10s is killed."""
    table = _proc_table()
    groups = {proc.pid} | {
        table[p][1] for p, st in (seen or {}).items()
        if p in table and table[p][2] == st
    }
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for grace in (10.0, 5.0):
        deadline = time.monotonic() + grace
        while True:
            alive = {t[1] for t in _proc_table().values()} & groups
            if not alive:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        for g in alive:
            try:
                os.killpg(g, signal.SIGKILL)
            except ProcessLookupError:
                pass


def launch(args: list[str], env: dict, deadline: float) -> tuple[subprocess.Popen, float]:
    """Start the worker; return it and the seconds from launch to its
    READY line (a ready session with the registry loaded)."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    ready = threading.Event()
    ready_at: list[float] = []

    def read():
        for line in proc.stdout:
            if line.strip() == "READY":
                ready_at.append(time.perf_counter())
                ready.set()
        ready.set()  # EOF: the worker exited without becoming ready

    threading.Thread(target=read, daemon=True).start()
    ready.wait(max(0.0, deadline - time.monotonic()))
    if not ready_at:
        _reap(proc)
        raise RuntimeError("the program did not become ready")
    return proc, ready_at[0] - t0


def main() -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a bento_spark checkout (missing {missing})",
              file=sys.stderr)
        return 2
    a = _args()
    sys.path.insert(0, ROOT)
    import inputs
    from workloads import WORKLOADS

    wl = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".perfbench")
    data = inputs.ensure(
        os.path.join(work, "inputs"), a.seed, a.sf or wl.sf, wl.files_per_table()
    )
    run_dir = os.path.join(work, "runs", f"{wl.name}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = program_env(run_dir)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    common = ["--workload", wl.name, "--data", data, "--run-dir", run_dir]
    try:
        proc, setup_s = launch(
            [*common, "--seconds", str(a.seconds), "--trace", str(a.trace)],
            env, deadline,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        peak = sampler.stop()
        _reap(proc, sampler.seen)
        if code != 0:
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return 1
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
    except (RuntimeError, subprocess.TimeoutExpired) as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 1
    finally:
        for d in ("tmp", "local", "duckdb"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    warm = res["warm_passes"]
    quartiles = statistics.quantiles(warm, n=4) if len(warm) > 1 else warm * 3
    res.update(setup_s=setup_s, peak_rss_bytes=peak,
               sampled_rss_bytes=sampler.sampled, seed=a.seed,
               sf=a.sf or wl.sf, files_per_table=wl.files_per_table(),
               warm_quartiles=quartiles, warm_count=len(warm))
    if a.trace:
        from layers import METRICS

        trace = res.pop("trace")
        with open(os.path.join(work, f"trace-{wl.name}-seed{a.seed}.json"), "w") as f:
            json.dump(trace, f, indent=1)
        metrics = {k: {"value": trace["metrics"][k], "unit": u} for k, u in METRICS.items()}
    else:
        values = {
            "setup_s": setup_s,
            "cold_s": res["cold_s"],
            "warm_s": res["warm_s"],
            "peak_rss_mb": peak / 2 ** 20,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(
        f"perfbench {wl.name} seed={a.seed} sf={res['sf']} files={res['files_per_table']}: "
        f"setup {setup_s:.2f}s cold {res['cold_s']:.2f}s warm {res['warm_s']:.2f}s, "
        f"pass median {statistics.median(warm):.2f}s "
        f"(quartiles {quartiles[0]:.2f}-{quartiles[2]:.2f}s, {len(warm)} passes), "
        f"{res['failed']}/{res['attempted']} failed",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
