"""bench.py's one-line stdout contract: ``_emit`` prints a JSON line
that round-trips, and its guard tolerates values that never compare
equal to themselves. No Spark session needed."""

from __future__ import annotations

import json
import math

import bench


def test_emit_nan_median_does_not_raise(tmp_path, monkeypatch, capsys):
    # the full artifact lands next to bench.py under docs/ — point the
    # module at a scratch copy so the test leaves the repo untouched
    (tmp_path / "docs").mkdir()
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    bench._emit(
        timings={"q01": 1.0, "q02": 2.0},
        medians={"q01": 1.0, "q02": float("nan")},
        spreads={"q01": 0.1, "q02": float("nan")},
        total=3.0,
        reps=3,
        sf_dir="/data/sf0.1",
        sched_floor=None,
        shuffle_floor=None,
    )
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["queries_median"]["q01"] == 1.0
    assert math.isnan(line["queries_median"]["q02"])
    assert math.isnan(line["value_median"])
    assert (tmp_path / "docs" / "BENCH_FULL_latest.json").exists()
