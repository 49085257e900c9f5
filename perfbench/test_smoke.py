"""Smoke test of the benchmark: a two-op run at sf0.001, untraced and
traced, must emit every metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

SMOKE = workloads.Workload(
    "smoke",
    "one query op and one write op on the smallest tables",
    0.001,
    ("text_quality",),
    ("quality_publish",),
)


def _result(capsys, trace: int) -> dict:
    workloads.WORKLOADS[SMOKE.name] = SMOKE
    try:
        rc = run.main(
            ["--workload", "smoke", "--seed", "1", "--seconds", "1", "--trace", str(trace)]
        )
    finally:
        del workloads.WORKLOADS[SMOKE.name]
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_every_metric_is_emitted_with_its_unit(capsys):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _result(capsys, trace)
        assert res["correct"] is True and res["failed"] == 0, res
        assert res["attempted"] >= 2
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], float) for v in res["metrics"].values())
