"""Self-tests of the benchmark: the generator is deterministic per seed,
every metric is printed with a unit and matches BENCHMARK.json, and each
workload completes once at the sf0.001 fixture's size with no failed
operation. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
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
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


def _tables(d: str) -> dict:
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_generator_is_deterministic_per_seed(tmp_path):
    tiny = gen.SCALES["tiny"]
    assert gen.dashboard_schedule(7, 200) == gen.dashboard_schedule(7, 200)
    assert gen.dashboard_schedule(7, 200) != gen.dashboard_schedule(8, 200)
    a, b = gen.ingest_slices(7, tiny, 4), gen.ingest_slices(7, tiny, 4)
    assert [(s.log_lines, s.cdc_lines) for s in a] == [(s.log_lines, s.cdc_lines) for s in b]
    assert a[1].log_lines != gen.ingest_slices(8, tiny, 4)[1].log_lines
    assert gen.subset_order(7, 8, 50) == gen.subset_order(7, 8, 50)
    for seed, name in ((7, "a"), (7, "b"), (8, "c")):
        gen.write_tables(str(tmp_path / name), seed, tiny)
        gen.write_corpus(str(tmp_path / name / "corpus"), seed, tiny)
    same = [_tables(str(tmp_path / n)) for n in "ab"]
    assert same[0] == same[1]
    assert _tables(str(tmp_path / "c")) != same[0]
    for k in range(tiny.subsets):
        sub = [_tables(str(tmp_path / n / "corpus" / f"subset{k}")) for n in "abc"]
        assert sub[0] == sub[1] != sub[2]


def test_dashboard_mix_is_the_same_for_every_seed():
    def mix(seed):
        sched = gen.dashboard_schedule(seed, gen.BLOCK * 4)
        return sorted(r.endpoint for r in sched)

    assert mix(1) == mix(2) == mix(3)
    assert gen.HEAVY_TAIL in mix(1)


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(metrics.WORKLOAD_NAMES)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.E2E_UNITS
    assert layer == metrics.layer_units()
    assert all(e2e.values()) and all(layer.values())


@pytest.mark.parametrize("workload", sorted(metrics.WORKLOAD_NAMES))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_completes_at_fixture_size(workload, trace):
    """One short run at the sf0.001 fixture's row counts: every operation
    correct, every metric of the run's kind printed with its unit."""
    code = (
        f"import sys; sys.path.insert(0, {BENCH!r}); import run; "
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', "
        f"'--seconds', '4', '--trace', '{trace}'], scale='tiny'))"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = metrics.layer_units() if trace else metrics.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
