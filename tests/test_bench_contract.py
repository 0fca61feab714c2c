"""Bench output-channel contract.

The driver captures only the last 2000 chars of bench.py stdout and
parses the FINAL line as the round's official number.  Round 4 lost its
number because diagnostics folded into that line pushed it to ~3.1 KB
(see VERDICT round 4, "What's wrong" #1).  These tests pin the contract
without running Spark: the headline line must stay compact for every
realistic timing payload, and the last printed line must parse alone.
"""

from __future__ import annotations

import json
import pathlib
import re

BENCH = pathlib.Path(__file__).resolve().parents[1] / "bench.py"


def _headline_names() -> list[str]:
    """Every key that can appear in the headline `queries` dict."""
    src = BENCH.read_text()
    m = re.search(r"HEADLINE = \((.*?)\)", src, re.S)
    assert m, "HEADLINE tuple not found in bench.py"
    names = re.findall(r'"([^"]+)"', m.group(1))
    assert len(names) >= 20, names
    me = re.search(r"EXTRAS = \((.*?)\)", src, re.S)
    assert me, "EXTRAS tuple not found in bench.py"
    names += re.findall(r'"([^"]+)"', me.group(1))
    # keys timed outside the HEADLINE loop (grep the source so a new
    # timed_min/timings[...] site can't silently outgrow this test)
    extra = set(re.findall(r'timings\["([a-z0-9_]+)"\]', src))
    extra |= set(re.findall(r'timed_min\(\s*"([a-z0-9_]+)"', src))
    return sorted(set(names) | extra)


def test_headline_line_fits_driver_tail():
    """Worst-case headline JSON (5-digit seconds per query) < 1800 chars,
    comfortably inside the driver's 2000-char tail with newline headroom."""
    names = _headline_names()
    line = json.dumps({
        "metric": "headline_suite_total",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n: 9999.999 for n in names},
        "sf": 0.1,
        "kg_pages": 10_000_000,
        "kg_pages_per_sec": 99999.9,
        "cpus": 32,
    })
    assert len(line) < 1800, (len(line), names)


def test_weather_report_is_separate_line():
    """The diagnostics (rep_times/rep_host_busy/loadavg) must be printed
    before — and separately from — the headline json.dumps call."""
    src = BENCH.read_text()
    weather = src.index('"weather"')
    headline = src.index('"metric": "headline_suite_total"')
    assert weather < headline, "weather report must print first"
    # headline dict must not embed the bulky diagnostics keys
    tail = src[headline:]
    for bulky in ('"rep_times"', '"rep_host_busy"', '"loadavg"'):
        assert bulky not in tail, f"{bulky} leaked into the headline line"
    # and the source keeps a hard length assert on the final line,
    # matching this file's worst-case bound
    assert "len(headline) < 1800" in src


def test_last_line_parses_alone():
    """Simulate the driver: take the final stdout line of a fake run and
    json-parse it in isolation."""
    names = _headline_names()
    weather_line = json.dumps({"weather": {
        "rep_times": {n: [1.0, 2.0, 3.0] for n in names},
        "rep_host_busy": {n: [0.5, 0.5, 0.5] for n in names},
        "loadavg": [1.0, 2.0, 3.0],
    }})
    headline_line = json.dumps({
        "metric": "headline_suite_total", "value": 1.0, "unit": "sec",
        "queries": {n: 1.0 for n in names}, "sf": 0.1,
        "kg_pages": 2000, "kg_pages_per_sec": 1.0, "cpus": 32,
    })
    stdout = weather_line + "\n" + headline_line + "\n"
    tail = stdout[-2000:]
    last = tail.strip().splitlines()[-1]
    parsed = json.loads(last)
    assert parsed["metric"] == "headline_suite_total"
    assert set(parsed["queries"]) == set(names)


def test_scaling_levels_follow_cpu_count():
    """tools/scaling_bench.py runs local[N] and local[4N] with
    N = cpu_count // 4, and refuses a host too small for the pair."""
    import pytest

    from tools.scaling_bench import levels

    assert levels(4) == (1, 4)
    assert levels(6) == (1, 4)
    assert levels(32) == (8, 32)
    for small in (1, 3):
        with pytest.raises(SystemExit, match="at least 4 CPUs"):
            levels(small)


def test_scaling_stage_walls_reduce_one_runs_lineage():
    """tools/scaling_bench.py reports each stage's wall as the max
    ``wall_ms`` of that stage's lineage rows for the timed pass's
    run_id, ``graph`` as ``canon+graph``; other runs' rows are
    ignored."""
    from tools.scaling_bench import stage_walls

    def row(run_id, stage, part_id, wall_ms):
        return {"run_id": run_id, "stage": stage, "part_id": part_id,
                "status": "ok", "n_rows": 10, "wall_ms": wall_ms}

    rows = [row("scale", "extract", 0, 4200),
            row("scale", "extract", 3, 4200),
            row("scale", "mine", 0, 1500),
            row("scale", "mine", 1, 1730),
            row("scale", "link", 2, 900),
            row("scale", "graph", -1, 2340),
            row("other", "extract", 0, 99000),
            row("other", "graph", -1, 99000)]
    assert stage_walls(rows, "scale") == {
        "extract": 4.2, "mine": 1.73, "link": 0.9, "canon+graph": 2.34}
    assert stage_walls(rows, "missing") == {}
