"""BENCHMARK.json and the output line agree, and the line stays short."""

import json
import os

import pytest

from perfbench.layers import LINE_METRICS, UNITS
from perfbench.run import END_TO_END_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the longest repr a float can print with: sign, 17 digits, exponent
LONGEST_FLOAT = -1.2345678901234567e-100


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_metrics_are_the_printed_ones(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert [m["name"] for m in spec["per_layer"]] == list(LINE_METRICS)
    assert all(m["unit"] == UNITS[m["name"]] for m in spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("units", [END_TO_END_UNITS, {k: UNITS[k] for k in LINE_METRICS}])
def test_output_line_fits_a_2000_char_tail(units):
    line = json.dumps(
        {
            "correct": False,
            "attempted": 10**9,
            "failed": 10**9,
            "metrics": {k: {"value": LONGEST_FLOAT, "unit": u} for k, u in units.items()},
        },
        separators=(",", ":"),
    )
    assert len(line) < 2000
