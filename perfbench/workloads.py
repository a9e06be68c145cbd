"""Workload definitions: which registry queries run, at which scale and
in which file layout.

Scale and layout are part of a workload's identity: the same query over
one file per table takes the local few-file paths (where
``operators.dedup.ensure_parallelism`` adds an exchange), while many
files per table is the cluster-like layout where every guarded spread
must be a no-op.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def nproc() -> int:
    """CPUs this process may run on (honours affinity masks)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: float
    # files per table; 0 means 2 x nproc (the cluster-like layout)
    files: int

    def files_per_table(self) -> int:
        return self.files or 2 * nproc()


WORKLOADS = {
    w.name: w
    for w in (
        # JVM-only path: scan, whole-stage codegen, shuffle. No Bloblang,
        # no Python crossing, and many files per table, so every guarded
        # spread is a no-op and an exchange added on a shared path shows
        # up as pure cost. Runs by hand only, not from BENCHMARK.json: its
        # warm_s lands in a fast or a slow mode per process (about 20%
        # apart, with a steady cold_s), so ten runs spread as wide as the
        # largest bound allows.
        Workload(
            "relational",
            (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "top_k_per_group",
                "asof_join_last_login",
                "window_session_user",
            ),
            sf=0.01,
            files=0,
        ),
        # Bento's own surface: YAML config -> plans -> Bloblang compiled
        # to Columns, where driver-side build is a large share of the
        # time; proc_cache_lookup carries the driver collect+broadcast
        # cache funnel and its set-then-get write path, and
        # pipeline_yaml_stream runs the same YAML surface as a checkpointed
        # micro-batch stream (the streaming phases and WAL commits).
        Workload(
            "pipeline",
            (
                "pipeline_yaml",
                "bloblang_mapping",
                "proc_cache_lookup",
                "pipeline_yaml_stream",
            ),
            sf=0.01,
            files=1,
        ),
        # LLM data ops: Arrow crossings into Python workers plus explode
        # shuffles, on the one-file-per-table layout where
        # ensure_parallelism fires and builds launch eager jobs.
        Workload(
            "llm_ops",
            (
                "dedup_simhash",
                "embed_project_topk",
            ),
            sf=0.01,
            files=1,
        ),
    )
}
