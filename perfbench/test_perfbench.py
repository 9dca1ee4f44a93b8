"""Self-tests of the benchmark harness (no Spark session needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
from stats import METRIC_NAME, median, tail_percentile  # noqa: E402
from tracing import metric_value  # noqa: E402
from workloads import (  # noqa: E402
    KERNEL_MIX,
    OrdersModel,
    cycle_plan,
    next_cdc_op,
    query_pass,
)

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)


def _model() -> OrdersModel:
    rows = [(k, k % 7, "O", 100.0 + k, None, "1-URGENT") for k in range(50)]
    return OrdersModel(rows, ts=1)


def _cdc_stream(seed: int, cycles: int = 3) -> list[tuple]:
    rng, model, ts, out = random.Random(seed), _model(), 1, []
    for _ in range(cycles):
        for kind, variant in cycle_plan(rng):
            op = next_cdc_op(rng, model, kind, variant)
            out.append(op)
            if kind not in ("lookup", "scan"):
                ts += 1
                model.commit(op, ts)
        model.compacted(ts)
    return out


def test_generators_are_deterministic():
    passes = lambda seed: [query_pass(random.Random(seed), KERNEL_MIX) for _ in range(2)]  # noqa: E731
    assert passes(5) == passes(5)
    assert passes(5) != passes(6)
    assert _cdc_stream(5) == _cdc_stream(5)
    assert _cdc_stream(5) != _cdc_stream(6)
    a, b = datagen.build_tables(), datagen.build_tables()
    assert all(a[t].equals(b[t]) for t in a)


def test_metric_names_are_well_formed_and_unique():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in CONTRACT[k]]
    names += [w["name"] for w in CONTRACT["workloads"]]
    assert all(METRIC_NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in CONTRACT["end_to_end"])


def test_tail_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        tail_percentile(list(range(1, 20)), 90)
    with pytest.raises(ValueError):
        tail_percentile(list(range(1, 100)), 90)
    assert tail_percentile(list(range(1, 101)), 90) == 90
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_sql_metric_strings_parse_to_base_units():
    assert metric_value("1,234") == 1234
    assert metric_value("12.5 MiB") == 12.5 * 2**20
    assert metric_value("total (min, med, max (stageId: taskId))\n3.1 s (0 ms, 1 ms, 2 ms (stage 4.0: task 9))") == 3.1
    assert metric_value("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25


def test_model_flags_a_wrong_lookup():
    model = _model()
    model.commit(("update", 10, 12), ts=2)
    right = model.latest[11]
    assert model.check_lookup(11, None, [right]) is None
    assert model.check_lookup(11, 1, [right]) is not None  # pre-update snapshot
    wrong = right[:3] + (right[3] + 0.01,) + right[4:]
    assert model.check_lookup(11, None, [wrong]) is not None
    assert model.check_lookup(11, None, [right, right]) is not None
    assert model.check_lookup(11, None, []) is not None
    assert model.check_lookup(10**7, None, []) is None
    model.commit(("delete", [11]), ts=3)
    assert model.check_lookup(11, None, [right]) is not None
    assert model.check_scan(None, 49, sum(r[3] for r in model.latest.values())) is None
    assert model.check_scan(None, 50, sum(r[3] for r in model.latest.values())) is not None
