"""bench.py's anti-contamination machinery (r10 verdict #2): three
INTERLEAVED full passes + per-query minima mean a host CPU-steal burst
that poisons one contiguous window cannot own every sample of any query;
and the suspect sentinel flags queries whose best CPU still exceeds 5x
the previous round's committed value, so a burst spanning the whole
bench (or a real regression) self-identifies in the artifact."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _burned(clean: dict[str, float], burn_pass: int, factor: float = 50.0):
    """Synthetic CPU-burn: pass `burn_pass` (0-based) is inflated
    `factor`x for EVERY query — the contiguous-host-event shape."""
    samples = {}
    for q, v in clean.items():
        runs = []
        for p in range(3):
            mult = factor if p == burn_pass else 1.0
            runs.append((v * mult, v * mult))
        samples[q] = runs
    return samples


def test_min_survives_a_burned_pass():
    clean = {"q1": 0.5, "q2": 2.0, "q3": 0.1}
    for burn_pass in range(3):
        samples = _burned(clean, burn_pass)
        timings, cpu = bench.min_over_passes(samples)
        assert timings == clean
        assert cpu == clean


def test_min_over_passes_handles_missing_cpu_and_empty():
    samples = {
        "q1": [(1.0, None), (0.8, None)],  # REST API down: wall only
        "q2": [],  # errored before any sample
        "q3": [(2.0, 1.5), (1.0, None), (3.0, 0.9)],
    }
    timings, cpu = bench.min_over_passes(samples)
    assert timings == {"q1": 0.8, "q3": 1.0}
    assert cpu == {"q3": 0.9}


def test_suspect_sentinel_flags_only_real_blowups():
    prev = {"q1": 1.0, "q2": 0.4, "tiny": 0.01, "gone": 5.0}
    cur = {
        "q1": 5.5,  # > 5x prev -> suspect
        "q2": 1.9,  # 4.75x -> not suspect
        "tiny": 1.0,  # 100x but prev below the 50ms floor -> ignored
        "new": 9.0,  # no prev row -> ignored
    }
    assert bench.flag_suspects(cur, prev) == ["q1"]


def test_suspect_sentinel_empty_when_clean():
    prev = {"q1": 1.0, "q2": 0.4}
    cur = {"q1": 1.1, "q2": 0.38}
    assert bench.flag_suspects(cur, prev) == []


def test_burned_pass_produces_no_suspects_end_to_end():
    """The full pipeline: burn pass 2, take minima, compare to a prev
    sidecar equal to the clean values — nothing should be flagged."""
    clean = {"q1": 0.5, "q2": 2.0, "q3": 0.1}
    timings, cpu = bench.min_over_passes(_burned(clean, burn_pass=1))
    assert bench.flag_suspects(cpu, dict(clean)) == []


class _Session:
    class sparkContext:
        defaultParallelism = 6


def test_run_shape_reports_queries_cores_and_parallelism():
    shape = bench.run_shape(_Session, {"q1": 0.5, "q2": 1.0})
    assert shape["n_queries"] == 2
    assert shape["defaultParallelism"] == 6
    assert isinstance(shape["cpus"], int) and shape["cpus"] >= 1


def test_fit_line_keeps_shape_fields_under_the_tail_budget():
    """A query map far over the budget is cut to the slowest queries;
    the line still parses, fits, and keeps n_queries, cpus and
    defaultParallelism."""
    import json

    timings = {f"some_long_headline_query_name_{i:03d}": 0.01 * i for i in range(272)}
    out = {"metric": "headline_queries_total_wall_sec", "value": 1.0, "unit": "sec",
           "queries": dict(timings), "sf": 0.1, **bench.run_shape(_Session, timings)}
    line = bench.fit_line(out, timings)
    assert len(line) <= bench.TAIL_BUDGET < 2000
    parsed = json.loads(line)
    assert parsed["n_queries"] == 272 and parsed["defaultParallelism"] == 6
    assert parsed["cpus"] >= 1
    assert parsed["queries_truncated"] == 272 - len(parsed["queries"])
    kept = min(parsed["queries"].values())
    assert all(v <= kept for k, v in timings.items() if k not in parsed["queries"])

