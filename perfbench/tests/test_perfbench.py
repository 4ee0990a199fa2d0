"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np
import pytest

import datagen
import run
import stats
import workloads
from tracing import Tracer

# ------------------------------------------------------- seeded inputs


def _geo_bytes(seed: int) -> bytes:
    g = datagen.geo_inputs(seed, 2_000, 200)
    return b"".join(g[k].tobytes() for k in sorted(g)) + json.dumps(
        datagen.windows(seed, workloads.WINDOW_FRACTIONS)).encode()


def test_same_seed_gives_identical_geo_inputs():
    assert _geo_bytes(7) == _geo_bytes(7)
    assert _geo_bytes(7) != _geo_bytes(8)


def test_geo_workload_wkb_inputs_follow_the_seed():
    a, b, c = (workloads.GeoWorkload(s, Tracer(enabled=False)) for s in (3, 3, 4))
    for layout in workloads.LAYOUTS:
        assert a.inputs[layout].equals(b.inputs[layout])
        assert not a.inputs[layout].equals(c.inputs[layout])
    assert a.wkb.tolist() == b.wkb.tolist()


def test_geo_op_order_follows_the_seed():
    def names(seed: int, pass_no: int) -> list[str]:
        g = workloads.GeoWorkload.__new__(workloads.GeoWorkload)
        g.out_dir = "out"
        g.windows = datagen.windows(seed, workloads.WINDOW_FRACTIONS)
        return [op.name for op in g.ops(seed, pass_no)]

    assert names(5, 1) == names(5, 1)
    assert {tuple(names(s, 1)) for s in range(6)} != {tuple(names(5, 1))}


def test_query_op_order_follows_the_seed():
    names = list(workloads.FAMILY)
    assert workloads.op_order(names, 1, 2) == workloads.op_order(names, 1, 2)
    assert workloads.op_order(names, 1, 2) != workloads.op_order(names, 2, 2)
    assert sorted(workloads.op_order(names, 9, 0)) == sorted(names)


def test_process_tree_cpu_counts_a_finished_child():
    before = run.process_tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3:\n    pass"], check=True)
    assert run.process_tree_cpu_s(os.getpid()) - before >= 0.25


def test_query_tables_are_byte_identical_across_generations():
    # The tables come from a fixed data seed: the benchmark seed orders
    # the ops but never changes what the fingerprint fixture was made on.
    assert (datagen.tables_digest(datagen.make_tables(0.001))
            == datagen.tables_digest(datagen.make_tables(0.001)))


# ------------------------------------------------------------ the tail


@pytest.mark.parametrize("n", [21, 22, 30, 57, 100, 101, 250, 1000])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n):
    values = [float(v) for v in np.random.default_rng(n).permutation(n)]
    t = stats.tail(values)
    p = t["pct"]
    assert t["n"] == n
    assert sum(v > t["value"] for v in values) >= stats.TAIL_BEYOND
    if p < 99:
        nxt = stats.percentile(values, p + 1)
        assert sum(v > nxt for v in values) < stats.TAIL_BEYOND


def test_tail_known_values():
    assert stats.tail_percentile(21) == 54
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(10) is None


def test_tail_falls_back_to_max_below_21_samples():
    t = stats.tail([1.0, 5.0, 2.0])
    assert t == {"value": 5.0, "pct": None, "n": 3}


# ------------------------------------------------------ output checks


class _Registry:
    def __init__(self, answers: dict):
        self.QUERIES = {name: (lambda spark, d, name=name: name) for name in answers}

    @staticmethod
    def clear_derived_caches() -> int:
        return 0


def _failed_frac(tmp_path, fixture: dict, answers: dict) -> float:
    args = argparse.Namespace(workload="queries", seed=1, seconds=1.0, trace=0)
    bench = run.Bench(args, str(tmp_path), {"cores": 1, "driver_mem": "1g"})
    bench.registry = _Registry(answers)
    bench.release = lambda: 0
    ops = workloads.query_ops(None, bench.registry, str(tmp_path), fixture, 1, 1)
    for op in ops:
        op.act = answers.get  # the fake DataFrame is the query's name
    bench.run_pass(ops, Tracer(enabled=False))
    return stats.failed_frac(len(bench.failures), bench.attempted)


def _fixture() -> dict:
    path = os.path.join(os.path.dirname(workloads.__file__), "fixtures", "fingerprints.json")
    with open(path) as f:
        return json.load(f)["queries"]


def test_fixture_covers_every_query_op():
    assert set(workloads.FAMILY) <= set(_fixture())


def test_matching_fingerprints_fail_nothing(tmp_path):
    fx = {k: v for k, v in _fixture().items() if k in workloads.FAMILY}
    assert _failed_frac(tmp_path, fx, fx) == 0.0


def test_perturbed_fingerprint_fixture_counts_as_failed(tmp_path):
    fx = {k: v for k, v in _fixture().items() if k in workloads.FAMILY}
    name = sorted(fx)[0]
    perturbed = {**fx, name: {**fx[name], "fp": str(int(fx[name]["fp"]) + 1)}}
    assert _failed_frac(tmp_path, perturbed, fx) == pytest.approx(1 / len(fx))


def test_a_raising_op_counts_as_failed(tmp_path):
    fx = {k: v for k, v in _fixture().items() if k in workloads.FAMILY}
    answers = dict(fx)
    answers[sorted(fx)[0]] = None  # act returns None; the check raises
    assert _failed_frac(tmp_path, fx, answers) > 0.0
