"""bench.py's regression guard must watch the extract protocol times.

Round-4 post-mortem: the extract docs/sec halved in the driver's bench
artifact and `_deltas` said nothing because it iterated only the query
timings dict — the guard was blind to the project's headline metric.
These tests pin the round-5 fix with a fabricated previous-round file
(no Spark involved).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys


def _load_bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_deltas_flags_extract_regression(tmp_path, monkeypatch):
    bench = _load_bench()
    prev = {
        "queries": {"q1": 1.0},
        "extract": {"sec": 10.0, "pipeline_sec": 20.0},
    }
    # point the previous-round loader at a fabricated artifact
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_rTEST.json", prev)
    )
    out = bench._deltas(
        {"q1": 1.1}, extract={"sec": 21.0, "pipeline_sec": 19.0}
    )
    assert "extract.sec" in out["regressions"]
    assert out["regressions"]["extract.sec"]["ratio"] == 2.1
    assert "q1" not in out["regressions"]  # 1.1x is under threshold
    assert "extract.pipeline_sec" not in out["regressions"]


def test_deltas_flags_extract_improvement_and_handles_absence(monkeypatch):
    bench = _load_bench()
    prev = {"queries": {"q1": 1.0}}  # old artifact without extract block
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_rTEST.json", prev)
    )
    # no extract in the previous round -> no extract rows, no crash
    out = bench._deltas({"q1": 0.5}, extract={"sec": 5.0})
    assert "q1" in out["improvements"]
    assert not any(k.startswith("extract.") for k in out["regressions"])
    prev2 = {
        "queries": {},
        "extract": {"sec": 10.0, "pipeline_sec": 20.0},
    }
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_rTEST.json", prev2)
    )
    out2 = bench._deltas({}, extract={"sec": 6.0, "pipeline_sec": 9.0})
    assert out2["improvements"]["extract.sec"]["ratio"] == 0.6
    assert out2["improvements"]["extract.pipeline_sec"]["ratio"] == 0.45


def test_prev_round_skips_unparsed_artifacts(tmp_path, monkeypatch):
    """A newest artifact with ``"parsed": null`` (or unreadable JSON)
    used to reach _deltas as None and crash it; the loader now falls
    back to the newest artifact that carries timings."""
    bench = _load_bench()
    load = bench._prev_round
    monkeypatch.setattr(bench, "_prev_round", lambda: load(str(tmp_path)))
    good = {"parsed": {"queries": {"q1": 1.0}}}
    (tmp_path / "BENCH_r04.json").write_text(json.dumps(good))
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "BENCH_r06.json").write_text("{not json")
    assert bench._prev_round() == ("BENCH_r04.json", good["parsed"])
    out = bench._deltas({"q1": 2.0})
    assert out["regressions"]["q1"]["ratio"] == 2.0
    (tmp_path / "BENCH_r04.json").unlink()
    assert bench._prev_round() is None
    assert bench._deltas({"q1": 2.0}) is None


def test_result_line_fits_tail_with_many_regressions(tmp_path, monkeypatch):
    """Round 5's line overflowed the 2000-char tail it is read from
    because every regression rode in it. With every headline query and
    both extract times regressed, the line keeps DELTAS_TOP of each and
    the side file keeps them all."""
    bench = _load_bench()
    detail = tmp_path / "deltas.json"
    monkeypatch.setattr(bench, "DELTAS_DETAIL", str(detail))
    prev = {
        "queries": {q: 0.1 for q in bench.HEADLINE},
        "extract": {"sec": 1.0, "pipeline_sec": 1.0},
    }
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_r99.json", prev)
    )
    # main() rounds each timing to 3 decimals
    timings = {
        q: round(123.456 + 7.777 * i, 3) for i, q in enumerate(bench.HEADLINE)
    }
    line = bench._result_line(timings, 9876.543, 9876.543)
    assert len(line) < 2000, len(line)
    assert "\n" not in line

    deltas = json.loads(line)["deltas"]
    n = len(bench.HEADLINE) + 2
    assert deltas["n_regressions"] == n
    assert len(deltas["regressions"]) == bench.DELTAS_TOP
    full = json.loads(detail.read_text())
    assert len(full["regressions"]) == n
    assert full["regressions"]["extract.sec"]["prev"] == 1.0
    # the largest ratios are the ones kept
    worst = sorted(
        full["regressions"].items(), key=lambda kv: -kv[1]["ratio"]
    )[: bench.DELTAS_TOP]
    assert deltas["regressions"] == {q: r["ratio"] for q, r in worst}
