"""Seeded benchmark inputs in the TESTDATA layout.

``tools/gen_testdata.generate`` fixes one numpy seed per table. The
benchmark folds its own ``--seed`` into each of those seeds and chooses
the file layout, without editing the generator: while it runs, the
generator module sees a numpy whose ``random.default_rng(table_seed)``
draws from ``default_rng([table_seed, seed])`` and a writer that splits
each table into the workload's number of files.

Outputs are cached per (seed, sf, files) under the benchmark's own
directory, so a repeated seed costs nothing.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

ROW_GROUP = 65536  # the generator's own row-group size


class _SeededRandom:
    def __init__(self, seed: int):
        self._seed = seed

    def default_rng(self, table_seed):
        return np.random.default_rng([int(table_seed), self._seed])

    def __getattr__(self, name):
        return getattr(np.random, name)


class _SeededNumpy:
    """numpy as seen by the generator: only ``random`` differs."""

    def __init__(self, seed: int):
        self.random = _SeededRandom(seed)

    def __getattr__(self, name):
        return getattr(np, name)


def _writer(files: int):
    def write(out_dir: str, name: str, table) -> None:
        n = max(1, min(files, table.num_rows))
        if files == 1:
            pq.write_table(
                table, os.path.join(out_dir, f"{name}.parquet"),
                row_group_size=ROW_GROUP,
            )
            return
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        bounds = [table.num_rows * i // n for i in range(n + 1)]
        for i in range(n):
            pq.write_table(
                table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(tdir, f"part-{i:05d}.parquet"),
                row_group_size=ROW_GROUP,
            )

    return write


def generate(seed: int, sf: float, files: int, out_dir: str) -> None:
    """Write the TESTDATA tables for ``seed`` at ``sf`` into ``out_dir``,
    each table as ``files`` parquet files (a directory when > 1)."""
    from tools import gen_testdata as gen

    saved = gen.np, gen._write
    gen.np, gen._write = _SeededNumpy(seed), _writer(files)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen.generate(sf, out_dir)
    finally:
        gen.np, gen._write = saved


def ensure(cache_root: str, seed: int, sf: float, files: int) -> str:
    """Path of the cached inputs for (seed, sf, files), generated on a
    miss. Generation goes to a private directory that is renamed into
    place, so a killed run never leaves a half-written cache entry."""
    path = os.path.join(cache_root, f"sf{sf:g}-files{files}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(seed, sf, files, tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # another run won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def table_path(data_dir: str, table: str) -> str | None:
    """DuckDB ``read_parquet`` argument for a table (globbed when the
    table is split into files), or None when the table is absent."""
    p = os.path.join(data_dir, f"{table}.parquet")
    if os.path.isdir(p):
        return os.path.join(p, "*.parquet")
    return p if os.path.exists(p) else None
