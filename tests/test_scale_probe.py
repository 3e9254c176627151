"""bench.py's scale probe table: its contract (no Spark) and, in the
slow tier, every series' declared count growth."""
from __future__ import annotations

import json
import os

import pytest

import bench
from conftest import SF_CORRECTNESS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_probe_table_contract():
    """Row names are unique and are exactly the committed record's
    series; every row declares a known growth class; the ``# probe``
    lines follow the table whatever order the series arrive in."""
    names = [p.name for p in bench.PROBES]
    assert len(set(names)) == len(names)
    with open(os.path.join(REPO, "SCALE_PROBE.json")) as fh:
        assert set(names) == set(json.load(fh)["series"])
    assert all(p.growth.kind in bench.GROWTH_KINDS for p in bench.PROBES)
    series = {n: [{"factor": 1, "sec": 0.1, "candidates": 1}]
              for n in reversed(names)}
    assert [ln.split()[2] for ln in bench.probe_lines(series)] == names


@pytest.mark.parametrize("growth,counts,holds", [
    (bench.LINEAR, [5, 10, 20], True),
    (bench.LINEAR, [5, 10, 21], False),
    (bench.AFFINE, [4, 9, 19], True),
    (bench.AFFINE, [4, 9, 20], False),
    (bench.FLAT, [7, 7, 7], True),
    (bench.FLAT, [7, 7, 8], False),
    (bench.NEAR_LINEAR, [10, 22, 52], True),
    (bench.NEAR_LINEAR, [10, 22, 53], False),
    (bench.NEAR_LINEAR, [0, 0, 0], False),
    (bench.Growth("below", 6000), [2810, 5999, 4283], True),
    (bench.Growth("below", 6000), [2810, 6000, 4283], False),
])
def test_growth_classes(growth, counts, holds):
    series = [{"factor": f, "candidates": c}
              for f, c in zip([1, 2, 4], counts)]
    assert (bench.growth_breach(growth, series) is None) == holds


def test_scale_probe_growth_bounds(spark):
    """The whole table at x1/x2/x4 of sf0.01: every series keeps its
    declared count growth."""
    out = bench.scale_probe(spark, [1, 2, 4], SF_CORRECTNESS, repeat=1)
    breaches = {p.name: bench.growth_breach(p.growth, out[p.name])
                for p in bench.PROBES}
    assert {k: v for k, v in breaches.items() if v} == {}
