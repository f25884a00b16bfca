"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root. The smoke runs start Spark and take about a minute each."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

from perfbench import blsgen, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _md5s(state: blsgen.SourceState) -> dict[str, str]:
    return {k: hashlib.md5(v).hexdigest() for k, v in state.files.items()}


def test_generator_is_byte_identical_per_seed():
    for seed in (0, 7):
        a1, a2 = blsgen.generate(seed), blsgen.generate(seed)
        assert a1.files == a2.files
        assert blsgen.mutate(a1, seed) == blsgen.mutate(a2, seed)
        assert blsgen.arrivals(seed) == blsgen.arrivals(seed)
    assert blsgen.generate(0).files != blsgen.generate(7).files


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_mutation_yields_predicted_action_counts(seed):
    v1 = blsgen.generate(seed)
    v2, counts = blsgen.mutate(v1, seed)
    old, new = _md5s(v1), _md5s(v2)
    actual = {
        "insert": len(new.keys() - old.keys()),
        "update": sum(old[k] != new[k] for k in new.keys() & old.keys()),
        "skip": sum(old[k] == new[k] for k in new.keys() & old.keys()),
        "delete": len(old.keys() - new.keys()),
    }
    assert actual == counts
    assert old["pr.data.0.Current"] != new["pr.data.0.Current"]


@pytest.mark.parametrize("seed", [0, 5])
def test_inputs_cover_fixture_edge_cases_and_golden_numbers(seed):
    v1 = blsgen.generate(seed)
    text = v1.files["pr.data.0.Current"].decode()
    assert text.startswith("series_id        \tyear\tperiod\t       value\t")
    assert "\tQ05\t" in text and "         NaN\t" in text and "        (NA)\t" in text
    newest = blsgen.newest_population(v1.files)
    assert newest.startswith("population_data_2025") and newest.endswith(".json")
    reports = blsgen.expected_reports(v1.files)
    (mean, std, n), = reports["population_stats"]
    assert (round(mean, 2), round(std, 2), n) == (blsgen.GOLDEN_MEAN, blsgen.GOLDEN_STD, 6)
    years = {y: pop for _, y, _, _, pop in reports["combined_report"]}
    assert years[2019] is not None and years[2020] is None and years[2024] is None
    # the tied series' best year is the earlier of its two 705.0 years
    tied = [r for r in reports["best_years"] if r[2] == 3525.0]
    assert len(tied) == 1


def test_benchmark_json_lists_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.per_layer()


@pytest.mark.parametrize("workload", ["queries", "bls_pipeline"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace, tmp_path):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--data", "sf0.001",
         "--spans", str(tmp_path / "spans.json")],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = metrics.per_layer() if trace else list(metrics.END_TO_END)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(want)
    if trace:
        assert json.loads((tmp_path / "spans.json").read_text())
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
