"""Set-up time counts the repeated set-up pass once, at its median."""

from __future__ import annotations

from perfbench import workloads


def test_setup_counts_the_pass_once_at_its_median(monkeypatch):
    run = workloads.Run(None, seed=1, seconds=1.0, traced=False, work="")
    clock = iter([0.0, 9.0, 10.0, 12.0, 13.0, 14.0])  # passes of 9, 2, 1 s
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: next(clock))
    calls = []
    run.warm_up(calls.append)
    assert calls == list(range(workloads.SETUP_REPEATS))
    assert run.warm_s == [9.0, 2.0, 1.0]
    run.t_measure = 20.0
    # 20 s of wall time, 12 s of it in the passes, counted as 2 s
    assert run.setup_s(t_start=0.0) == 10.0


def test_setup_without_a_pass_is_the_wall_time():
    run = workloads.Run(None, seed=1, seconds=1.0, traced=False, work="")
    run.t_measure = 7.5
    assert run.setup_s(t_start=2.5) == 5.0


def test_setup_leaves_out_the_wait_for_the_phase():
    run = workloads.Run(None, seed=1, seconds=1.0, traced=False, work="")
    run.t_measure = 12.0
    run.wait_s = 4.0
    assert run.setup_s(t_start=2.0) == 6.0
