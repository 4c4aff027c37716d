"""Workload rules of the runner: which input each invocation reads, and the
traced run's failure conditions.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from perfbench import run


class _Runner(run.Runner):
    def __init__(self, name):  # no Spark: only the input rule is exercised
        self.spec = run.WORKLOADS[name]
        self.entries = self.spec["entries"]
        self.dirs = ["in0", "in1"]


def _reads(name):
    """Directories each entry reads, in order: the check, then 6 passes."""
    r = _Runner(name)
    labels = [0] if r.spec["rerun"] else [0, 1]
    return {
        entry: [r.dir_for(i, label) for label in labels]
        + [r.dir_for(i, p) for p in range(6)]
        for i, entry in enumerate(r.entries)
    }


def test_fresh_never_rereads_the_previous_input():
    for entry, dirs in _reads("fresh").items():
        assert set(dirs[:2]) == {"in0", "in1"}, entry  # both checked
        assert all(a != b for a, b in zip(dirs, dirs[1:])), entry


def test_rerun_cached_always_rereads_the_same_input():
    reads = _reads("rerun_cached")
    for dirs in reads.values():
        assert len(set(dirs)) == 1
    assert {d[0] for d in reads.values()} == {"in0", "in1"}


def test_enough_invocations_for_a_tail_percentile():
    for spec in run.WORKLOADS.values():
        assert run.MIN_PASSES * len(spec["entries"]) > 10


def _layer(hit_ratio, calls=1.0):
    out = {f"{x}.calls": calls for w in run.WORKLOADS.values() for x in w["layers"]}
    out["cachereg.hit_ratio"] = hit_ratio
    return out


def test_trace_problems_flag_cache_ratio_against_workload():
    assert run.trace_problems("fresh", _layer(0.0)) == []
    assert run.trace_problems("rerun_cached", _layer(1.0)) == []
    assert run.trace_problems("fresh", _layer(0.5))
    assert run.trace_problems("rerun_cached", _layer(0.0))


def test_trace_problems_flag_silent_layers():
    problems = run.trace_problems("fresh", _layer(0.0, calls=0.0))
    assert len(problems) == len(run.WORKLOADS["fresh"]["layers"])


def test_traced_passes_balance_untraced_ones():
    pattern = [run.traced_pass(p) for p in range(run.MIN_PASSES)]
    assert pattern == [False, True, True, False]
