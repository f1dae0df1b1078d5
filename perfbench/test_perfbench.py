"""Self-tests of the benchmark (tiny inputs, ~7 minutes on 4 cores).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import datagen  # noqa: E402
from workloads import END_TO_END, PER_LAYER  # noqa: E402


def _run(workload: str, trace: int = 0, seed: int = 1, *extra: str) -> dict:
    """One tiny run; returns its final JSON line (and checks the metric
    lines printed before it)."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {ln.split()[1]: ln.split()[3] for ln in lines[:-1]
               if ln.startswith(workload + " ") and len(ln.split()) == 4}
    for name, m in result["metrics"].items():
        assert printed[name] == m["unit"], name
    return result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ingest", "dedup", "analytics"])
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest", "dedup"])
def test_tampered_expected_output_fails_the_check(workload):
    result = _run(workload, 0, 1, "--tamper")
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_seeds_change_inputs_but_not_metric_names():
    base = ROOT / ".perfbench_work" / "selftest"
    shutil.rmtree(base, ignore_errors=True)
    try:
        a, b, a2 = base / "a", base / "b", base / "a2"
        for d, seed in ((a, 1), (b, 2), (a2, 1)):
            datagen.write_tables(str(d / "tables"), seed, 0.01)
            datagen.write_backlog(str(d / "backlog"), seed, [20, 20])
        for sub, name in (("tables", "lineitem.parquet"),
                          ("tables", "documents.parquet"),
                          ("backlog", "backlog-00000.json")):
            assert not filecmp.cmp(a / sub / name, b / sub / name,
                                   shallow=False)
            assert filecmp.cmp(a / sub / name, a2 / sub / name,
                               shallow=False)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    one, two = _run("ingest", 0, 1), _run("ingest", 0, 2)
    assert list(one["metrics"]) == list(two["metrics"])
