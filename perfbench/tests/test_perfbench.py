"""Tests of the benchmark itself (not of fastlink_spark).

    python3 -m pytest perfbench/tests -q

The check tests are pure pandas and take seconds. The smoke tests run
``perfbench/run.py`` at ``--scale smoke`` once per workload and trace
mode, about a minute each, one Spark session at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def pages_fx():
    return inputs.pages(seed=3, scale="smoke")


@pytest.fixture(scope="module")
def persons_in():
    return inputs.persons(seed=3, scale="smoke")


def test_inputs_are_a_function_of_the_seed(persons_in):
    again = inputs.persons(seed=3, scale="smoke")
    assert persons_in.a.equals(again.a) and persons_in.b.equals(again.b)
    assert not persons_in.b.equals(inputs.persons(seed=4, scale="smoke").b)
    assert len(persons_in.true_links) == inputs.PERSONS_SIZE["smoke"][2]
    # every planted link shares its blocking city
    city_a = persons_in.a.set_index("pid")["city"]
    city_b = persons_in.b.set_index("pid")["city"]
    t = persons_in.true_links
    assert (city_a[t["pid_a"]].to_numpy() == city_b[t["pid_b"]].to_numpy()).all()


def test_truth_passes_dedupe_check(pages_fx):
    f1, problems = checks.check_dedupe(
        pages_fx.entities_truth, pages_fx, candidates=10, pattern_pairs=10, first_candidates=10
    )
    assert f1 == 1.0 and problems == []


def test_shuffled_cluster_ids_fail_dedupe_check(pages_fx):
    ents = pages_fx.entities_truth.copy()
    ents["cluster_id"] = np.random.default_rng(0).permutation(ents["cluster_id"].to_numpy())
    f1, problems = checks.check_dedupe(
        ents, pages_fx, candidates=10, pattern_pairs=10, first_candidates=10
    )
    assert f1 < checks.DEDUPE_F1_MIN
    assert any("F1" in p for p in problems)


def test_dedupe_check_flags_lost_rows_and_pair_counts(pages_fx):
    ents = pages_fx.entities_truth.iloc[1:]
    _, problems = checks.check_dedupe(
        ents, pages_fx, candidates=10, pattern_pairs=9, first_candidates=11
    )
    text = " ".join(problems)
    assert "input pages" in text
    assert "sum of pattern counts" in text
    assert "first call" in text


def _truth_matches(persons_in):
    return persons_in.true_links.rename(columns={"pid_a": "a_pid", "pid_b": "b_pid"})


def test_truth_passes_link_two_check(persons_in):
    f1, problems = checks.check_link_two(
        _truth_matches(persons_in), persons_in,
        pattern_pairs=persons_in.expected_candidates(), first_matched=None,
    )
    assert f1 == 1.0 and problems == []


def test_corrupted_link_two_results_fail_check(persons_in):
    truth = _truth_matches(persons_in)
    rolled = truth.assign(b_pid=np.roll(truth["b_pid"].to_numpy(), 1))
    f1, problems = checks.check_link_two(
        rolled, persons_in, pattern_pairs=persons_in.expected_candidates(), first_matched=None
    )
    assert f1 < checks.LINK_TWO_F1_MIN and problems
    doubled = truth.assign(b_pid=truth["b_pid"].iloc[0])
    _, problems = checks.check_link_two(
        doubled, persons_in, pattern_pairs=persons_in.expected_candidates(), first_matched=None
    )
    assert any("one_to_one" in p for p in problems)
    _, problems = checks.check_link_two(
        truth, persons_in, pattern_pairs=persons_in.expected_candidates() - 1, first_matched=None
    )
    assert any("city-blocked" in p for p in problems)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", trace, "--scale", "smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= (1 if trace == "0" else 3)
    spec = _bench()["end_to_end" if trace == "0" else "per_layer"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        spans = json.load(open(os.path.join(BENCH_DIR, "out", f"trace-{workload}-seed1.json")))
        assert spans["spans"] and all("parent" in s for s in spans["spans"])
    assert not os.listdir(os.path.join(BENCH_DIR, ".work"))


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = _run(str(tmp_path), "--workload", "dedupe_pages", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
