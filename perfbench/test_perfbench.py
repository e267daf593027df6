"""The benchmark's own tests: a tiny run of every workload emits every
named metric, and corrupted outputs are counted as failures.

    python3 -m pytest perfbench -q      (from the repository root)
"""

from __future__ import annotations

import argparse
import io
import json
import math
import os
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _tiny_run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    res = _tiny_run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), name


class _FakeFrame:
    def __init__(self, rows, columns):
        self.rows, self.columns = rows, columns

    def collect(self):
        return self.rows


def _ctx():
    return run.Ctx(argparse.Namespace(seed=1), "tiny")


def test_oracle_mismatch_is_a_failed_operation():
    good = [(1, "a"), (2, "b")]
    wl = workloads.Analytics("tiny")
    wl.mix = {"q_fake": "aggregates"}
    wl.sf_dir = ""
    wl.want = {"q_fake": workloads.result_digest(good, ["k", "v"])}
    ctx = _ctx()
    ctx.queries = {"q_fake": lambda spark, sf: _FakeFrame(good, ["k", "v"])}
    wl.run_query(ctx, "q_fake")
    ctx.queries = {"q_fake": lambda spark, sf: _FakeFrame([(1, "a"), (2, "c")], ["k", "v"])}
    wl.run_query(ctx, "q_fake")
    assert [o.ok for o in ctx.ops] == [True, False]


def test_raising_operation_is_a_failed_operation():
    ctx = _ctx()
    with ctx.op("boom") as op:
        raise RuntimeError("engine error")
    assert not op.ok and "engine error" in op.error


class _Row(dict):
    __getattr__ = dict.get


def test_corrupted_pipeline_output_breaks_invariants():
    wl = workloads.Pipeline("tiny")
    wl.man = {"book_ids": ["b1", "b2", "b3"], "rejected": ["b3"], "noisy": ["b2"]}
    audio = [
        _Row(book_id="b1", qualified=True, duration=2.0),
        _Row(book_id="b2", qualified=True, duration=1.0),
        _Row(book_id="b3", qualified=False, duration=0.0),
    ]
    segs = [
        _Row(book_id="b1", seg_id=0, start=0.0, end=2.0, duration=2.0, is_outlier=False),
        _Row(book_id="b2", seg_id=0, start=0.0, end=1.0, duration=1.0, is_outlier=True),
    ]
    pub = [_Row(speaker_id="s", book_id="b1", seg_id=0, text="t", duration=2.0, label=0)]
    res = {
        "book_audio": audio, "segs": segs, "published": pub,
        "kept": [_Row(book_id="b1"), _Row(book_id="b3")],
        "updated": [_Row(book_id=b) for b in ("b1", "b2", "b3")],
    }
    ctx = _ctx()
    wl.check(ctx, res)
    assert ctx.failures == [] and ctx.checks_attempted > 0
    # a rejected book leaks into the published table
    bad = dict(res, published=pub + [_Row(speaker_id="s", book_id="b3", seg_id=0, text="t", duration=1.0, label=0)])
    ctx = _ctx()
    wl.check(ctx, bad)
    names = {n for n, _ in ctx.failures}
    assert "rejected books absent" in names and "utterances = segments - outliers" in names


def test_missing_or_nan_metric_makes_the_run_incorrect():
    buf = io.StringIO()
    with redirect_stdout(buf):
        run.emit({"a": float("nan")}, {"a": "s", "b": "s"}, 3, 0, True, {})
    lines = buf.getvalue().strip().splitlines()
    res = json.loads(lines[-1])
    assert res["correct"] is False
    assert res["metrics"] == {"a": {"value": None, "unit": "s"}, "b": {"value": None, "unit": "s"}}
    assert json.loads(lines[0][len("# context "):])["bad_metrics"] == ["a", "b"]


def test_latency_quantiles_are_smooth_estimates():
    assert math.isnan(run._quantile([], 0.5))
    assert run._quantile([2.5], 0.9) == 2.5
    assert run._quantile([1.0, 2.0, 3.0], 0.5) == pytest.approx(2.0)
    lat = [0.4, 0.6, 1.0, 1.4, 5.2, 5.9, 13.7]
    p50, p90 = run._quantile(lat, 0.5), run._quantile(lat, 0.9)
    assert min(lat) < p50 < p90 < max(lat)
    # the operation at the median growing past its upper neighbour moves
    # the estimate by a share of the change, not by the whole gap
    grown = lat[:3] + [5.3] + lat[4:]
    assert run._quantile(grown, 0.5) - p50 < 0.5 * (5.3 - 1.4)
