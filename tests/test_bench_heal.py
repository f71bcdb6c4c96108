"""Unit tests for bench.py's CalibTracker — the round-14 self-heal
bookkeeping (VERDICT r13 order #2). Pure logic, no Spark: each query run is
attributed to the pair of host-speed anchor samples that bracket it, keys
whose every run sat inside a co-tenant burst are re-measured, and the
artifact stamps per-key trust (`calib_adjacent`) instead of condemning the
whole run."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CalibTracker  # noqa: E402


def test_clean_run_no_suspects():
    t = CalibTracker(0.015)
    for name in ("a", "b", "c"):
        t.note_run(name)
    t.sample(0.016)
    for name in ("d", "e"):
        t.note_run(name)
    t.sample(0.015)
    assert t.suspects(["a", "b", "c", "d", "e"]) == []
    assert t.adjacent_ratio("a") <= 1.5
    assert t.run_min() == 0.015


def test_burst_segment_marks_only_its_keys():
    t = CalibTracker(0.015)
    t.note_run("quiet1")
    t.sample(0.015)  # segment 1 clean
    t.note_run("hot1")
    t.note_run("hot2")
    t.sample(0.08)  # burst: segment 2's keys are charged max(0.015, 0.08)
    t.note_run("tail1")
    t.sample(0.015)  # segment 3: charged max(0.08, 0.015) = 0.08 — dirty too
    t.note_run("quiet2")
    t.sample(0.016)
    names = ["quiet1", "hot1", "hot2", "tail1", "quiet2"]
    assert t.suspects(names) == ["hot1", "hot2", "tail1"]
    assert t.adjacent_ratio("hot1") > 1.5
    assert t.adjacent_ratio("quiet2") <= 1.5


def test_heal_rerun_clears_suspect():
    t = CalibTracker(0.015)
    t.note_run("x")
    t.sample(0.09)  # x's only pass-0 run is dirty
    assert t.suspects(["x"]) == ["x"]
    # heal pass: re-run x between two quiet samples
    t.sample(0.015)
    t.note_run("x")
    t.sample(0.016)
    assert t.suspects(["x"]) == []
    assert t.adjacent_ratio("x") <= 1.5


def test_unsampled_runs_flushed_by_final_sample():
    t = CalibTracker(0.015)
    t.note_run("pending")
    # no mid-run sample taken; the end-of-run sample must still bracket it
    t.sample(0.015)
    assert t.brackets["pending"] == [0.015]
    assert t.suspects(["pending"]) == []


def test_never_bracketed_key_is_suspect():
    t = CalibTracker(0.015)
    # a key that somehow never got bracketed reads as untrusted, not clean
    assert t.suspects(["ghost"]) == ["ghost"]
    assert t.adjacent_ratio("ghost") == float("inf")


def test_boundary_ratio_is_judged_on_the_stamped_value():
    t = CalibTracker(0.01)
    t.note_run("edge")
    t.sample(0.015004)  # ratio 1.5004: stamps as 1.5, the trusted limit
    t.note_run("over")
    t.sample(0.015006)  # charged max(0.015004, 0.015006): stamps as 1.501
    assert t.adjacent_ratio("edge") == 1.5
    assert t.adjacent_ratio("over") == 1.501
    assert t.suspects(["edge", "over"]) == ["over"]
