"""Smoke tests of the benchmark itself.

Every workload runs at the tiny scale, untraced and traced, and must
print a correct result that carries exactly the metrics BENCHMARK.json
names. Run with ``python -m pytest perfbench/tests -q`` from the repo
root (about three minutes: each run starts its own Spark session).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import loca2tree  # noqa: E402
import tables  # noqa: E402
from cputime import tree_cpu_s  # noqa: E402
from workloads import tail  # noqa: E402


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, "--workload", BENCH["workloads"][0]["name"],
               "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_payload_decodes_to_the_formula():
    from downscaledclimatedata_spark.operators.netcdf3 import parse_netcdf3
    files = loca2tree.make_files(np.random.default_rng(3), 5, (12, 3, 4), 2)
    assert len({f.key for f in files}) == 5
    for f in files:
        var = parse_netcdf3(loca2tree.payload(f))["variables"][f.variable]
        assert var["data"] == loca2tree.cell_values(f).tolist()


BURN = ("import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5:\n"
        "    pass\n"
        "print('done', flush=True)\n"
        "sys.stdin.read()\n")


def test_tree_cpu_counts_live_and_reaped_children():
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
    assert child.stdout.readline() == "done\n"
    live = tree_cpu_s() - before
    child.communicate("")
    reaped = tree_cpu_s() - before
    assert 0.4 < live < 5
    assert live <= reaped < live + 1


def test_tail_keeps_ten_samples_beyond():
    assert tail([1.0, 2.0, 3.0]) == (100.0, 3.0, 3)
    pct, value, n = tail([float(i) for i in range(100)])
    assert (pct, value, n) == (90.0, 89.0, 100)


def test_tables_follow_the_seed():
    a = tables.build(5, tables.SIZES["tiny"])
    b = tables.build(5, tables.SIZES["tiny"])
    c = tables.build(6, tables.SIZES["tiny"])
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"}
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
