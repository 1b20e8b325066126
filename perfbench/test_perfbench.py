"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from stats import CounterModel, percentile, tail, tail_percentile  # noqa: E402


@pytest.mark.parametrize("n, want", [
    (1000, 90), (100, 90), (99, 80), (50, 80), (49, 60), (25, 60), (24, 50), (20, 50),
    (19, None), (1, None),
])
def test_tail_rule_takes_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_falls_back_to_max_on_small_samples():
    xs = [float(i) for i in range(19)]
    assert tail(xs) == (18.0, "max")
    xs = [float(i) for i in range(50)]
    assert tail(xs) == (percentile(xs, 80), "p80")


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).exponential(size=37))
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_counter_replay_last_set_plus_later_deltas():
    m = CounterModel()
    assert m.apply("get_joined_count") == 0  # empty log reads 0
    assert m.apply("increase_joined_count") == 1
    assert m.apply("decrease_joined_count") == 0
    assert m.apply("decrease_joined_count") == -1
    assert m.apply("set_joined_count", 40) == 40  # a set discards earlier deltas
    assert m.apply("increase_joined_count") == 41
    assert m.apply("get_joined_count") == 41
    assert m.log_files == 5  # one file per write, none per read


def test_counter_replay_rejects_unknown_ops():
    with pytest.raises(ValueError):
        CounterModel().apply("get_plans")
    with pytest.raises(ValueError):
        CounterModel().apply("set_joined_count")


def test_service_trace_is_deterministic_and_keeps_the_mix():
    a = datagen.service_trace(5, blocks=3)
    assert a == datagen.service_trace(5, blocks=3)
    assert a != datagen.service_trace(6, blocks=3)
    want = dict(datagen.BLOCK)
    for i in range(3):
        block = a[i * datagen.BLOCK_SIZE:(i + 1) * datagen.BLOCK_SIZE]
        assert Counter(c.op for c in block) == want
    sets = [c.arg for c in a if c.op == "set_joined_count"]
    assert all(isinstance(v, int) and -1000 <= v < 1000 for v in sets)
    assert all(c.arg is None for c in a if c.op != "set_joined_count")


def test_benchmark_json_lists_what_a_run_prints():
    import json

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == [
        (n, run.layer_unit(n)) for n in run.layer_names()
    ]
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E_UNITS


def test_tables_are_deterministic_per_seed():
    a, b, c = (datagen.tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["nation"].num_rows == 25
