"""Self-tests of the benchmark; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import check, inputs
from perfbench.metrics import END_TO_END, NAME_RULE, PER_LAYER
from perfbench.workloads import WORKLOADS, fixture_programs

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def test_printed_metrics_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_names_follow_the_rule():
    names = [*END_TO_END, *PER_LAYER, *WORKLOADS]
    assert len(names) == len(set(names))
    assert all(NAME_RULE.match(n) for n in names), [n for n in names if not NAME_RULE.match(n)]


@pytest.mark.parametrize("kind", sorted(inputs.GENERATORS))
def test_input_hash_follows_the_seed(kind):
    gen = inputs.GENERATORS[kind]
    h = {s: inputs.input_hash(gen(s, 200)) for s in (1, 2)}
    assert inputs.input_hash(gen(1, 200)) == h[1]
    assert h[1] != h[2]


def test_large_seeds_make_valid_timestamps():
    for seed in (0, 4095, 10**6, 2**63 - 1):
        for _, ts, *_ in inputs.page_rows(seed, 2):
            assert ts.year < 2262  # pandas' ns timestamps end in 2262


@pytest.fixture(scope="module")
def sample():
    rows = inputs.page_rows(7, 64)
    programs = fixture_programs()
    return check.expected_keys(rows, programs)


def test_output_check_accepts_the_recomputed_triples(sample):
    assert sample
    assert check.mismatch(sample, list(reversed(sample))) is None


def test_output_check_fails_on_a_tampered_triple(sample):
    tampered = list(sample)
    tampered[len(tampered) // 2] += "x"
    assert check.mismatch(sample, tampered) is not None
    assert check.mismatch(sample, sample[:-1]) is not None
    assert check.mismatch(sample, sample + sample[:1]) is not None
