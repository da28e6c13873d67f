"""Run-to-run spread of end-to-end metrics.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds a run's standard output (the result is its last line).
Prints, per workload file group and metric, the median and the distance
between the first and third quartile as a share of the median — the same
figure ``statistics.quantiles(values, n=4)`` gives — next to the bound in
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main(paths: list[str]) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for p in paths:
        with open(p) as f:
            last = f.read().strip().splitlines()[-1]
        for k, v in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med, rel = spread(vs)
        bound = bounds.get(k)
        flag = "" if bound is None or rel <= bound / 3 else "  (> bound/3)"
        print(f"{k:24s} n={len(vs):2d} median={med:12.4f} "
              f"iqr/median={rel:.3f} bound={bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
