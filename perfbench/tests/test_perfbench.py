"""Self-test of the benchmark at sf0.001.

    python -m pytest perfbench/tests -q

Checks that every metric named in BENCHMARK.json is emitted with its
unit, that the oracle comparison catches a perturbed row, and that the
traced run harvests scan and Python metrics on embed_project_topk.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

from inputs import generate  # noqa: E402
from layers import parse_sql_metric  # noqa: E402
from oracle import Oracle, mismatch  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def untraced() -> dict:
    return _run("llm_ops", 0)


@pytest.fixture(scope="module")
def traced() -> dict:
    return _run("llm_ops", 1)


def test_workloads_match_benchmark_json():
    # relational runs by hand only (see workloads.py)
    assert [w["name"] for w in _spec()["workloads"]] == [
        n for n in WORKLOADS if n != "relational"
    ]


def test_end_to_end_metrics_emitted(untraced):
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    got = {k: v["unit"] for k, v in untraced["metrics"].items()}
    assert got == want
    assert untraced["correct"] and untraced["failed"] == 0
    assert untraced["attempted"] >= 2 * len(WORKLOADS["llm_ops"].queries)
    assert all(v["value"] > 0 for v in untraced["metrics"].values())


def test_per_layer_metrics_emitted(traced):
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    got = {k: v["unit"] for k, v in traced["metrics"].items()}
    assert got == want
    assert traced["correct"]


def test_harvest_scan_and_python_on_embed_project_topk(traced):
    with open(os.path.join(ROOT, ".perfbench", f"trace-llm_ops-seed{SEED}.json")) as f:
        counts = json.load(f)["counts_by_query"]["embed_project_topk"]
    for k in ("scan.files", "scan.bytes", "scan.rows", "python.run_s",
              "python.bytes_sent", "python.bytes_recv"):
        assert counts.get(k, 0) > 0, k
    m = traced["metrics"]
    assert m["operators.spreads_applied"]["value"] > 0


def test_perturbed_row_is_an_oracle_mismatch(tmp_path):
    from bento_spark.queries import ORACLES, load_all

    load_all()
    data = str(tmp_path / "data")
    generate(SEED, 0.001, 2, data)
    orc = Oracle(data, 1, str(tmp_path))
    try:
        sql = ORACLES["window_tumbling_hour"]
        expected = orc.expected(sql)
        tbl = orc.con.execute(sql).arrow()
    finally:
        orc.close()
    cols = tbl.column_names
    rows = [list(r) for r in zip(*[c.to_pylist() for c in tbl.columns])]
    assert rows, "an empty oracle result would make the check vacuous"
    assert mismatch(expected, cols, rows) is None
    rows[len(rows) // 2][cols.index("n")] += 1
    assert "differs" in mismatch(expected, cols, rows)
    assert "row count" in mismatch(expected, cols, rows[:-1])


def test_inputs_follow_the_seed(tmp_path):
    def docs(seed: int, name: str):
        out = str(tmp_path / name)
        generate(seed, 0.001, 1, out)
        return pq.read_table(os.path.join(out, "documents.parquet"))

    a, b, c = docs(1, "a"), docs(1, "b"), docs(2, "c")
    assert a.equals(b)
    assert not a.equals(c)


def test_parse_sql_metric():
    assert parse_sql_metric("1,000") == 1000
    assert parse_sql_metric("2.2 s") == pytest.approx(2.2)
    assert parse_sql_metric("64.0 KiB") == 65536
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n55 ms (22 ms, 33 ms, 33 ms (stage 7.0: task 4))"
    ) == pytest.approx(0.055)
