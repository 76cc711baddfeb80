"""The bench's stdout contract, without Spark: fixed timings go through
``bench.emit`` and its lines are compared with a golden copy of the
stdout the bench printed before its frozen sets became one table (rep k
of the i-th query lasted (100 + 7*i) * (1 + k/10) ms, warm-up 1.39 s)."""

import json
import os

import bench

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "bench_stdout.txt")
HOST = {"loadavg_start": [1.25, 2.25, 3.25], "cpu_calib_sec": 0.75, "cpu_mhz": 2400.5}


def _mask(v):
    if isinstance(v, dict):
        return {k: _mask(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_mask(x) for x in v]
    if v is None or (isinstance(v, (int, float)) and not isinstance(v, bool)):
        return "#"
    return v


def _masked(lines):
    return [json.dumps(_mask(json.loads(line))) for line in lines]


def _fixed_results():
    results, i = [], 0
    for metric, members in bench.SETS:
        timings, spread = {}, {}
        for name in members:
            ms = 100 + 7 * i
            timings[name] = ms * 12 // 10 / 1000  # the median of 5 reps
            spread[name] = [ms / 1000, ms * 14 // 10 / 1000]
            i += 1
        results.append((metric, timings, spread))
    return results


def test_stdout_matches_the_golden_layout(monkeypatch, capsys):
    monkeypatch.setattr(bench, "REPS", 5)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.5, 2.5, 3.5))
    bench.emit(_fixed_results(), 1.39, 0.1, HOST)
    out = capsys.readouterr()
    with open(GOLDEN) as fh:
        golden = fh.read().splitlines()
    lines = out.out.splitlines()
    assert len(lines) == 24
    assert _masked(lines) == _masked(golden)
    assert lines == golden  # the same timings give the same numbers
    first, last = json.loads(lines[0]), json.loads(lines[-1])
    assert last == {**first, "dup": True}  # HEADLINE opens and closes
    spreads = [json.loads(line) for line in out.err.splitlines()]
    assert [s["metric"] for s in spreads] == [m for m, _ in bench.SETS]
    assert all(set(s["spread"]) == set(s["queries"]) for s in spreads)

