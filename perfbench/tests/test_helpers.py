"""Unit tests of the benchmark's pure helpers (no Spark session started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(ROOT, "tools")]

from lib import (  # noqa: E402
    parse_sql_metric,
    pass_order,
    percentile,
    self_time_by_name,
    self_times,
    supported_percentile,
    tree_pids,
    tree_rss_bytes,
)
from workloads import SCALE, WORKLOADS  # noqa: E402


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 90) == 3.0
    assert percentile([float(i) for i in range(1, 51)], 80) == 40.0  # no float drift in the rank
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert supported_percentile(100) == 90  # exactly 10 above p90
    assert supported_percentile(1000) == 90
    assert supported_percentile(50) == 80  # 10 above p80
    assert supported_percentile(20) == 50
    assert supported_percentile(15) is None  # too few for even the median
    assert supported_percentile(0) is None


def test_pass_order_is_seeded_permutation():
    names = ["q_a", "q_b", "q_c", "q_d", "q_e"]
    a = pass_order(names, 7)
    assert sorted(a) == sorted(names)
    assert a == pass_order(list(reversed(names)), 7)  # input order irrelevant
    assert len({tuple(pass_order(names, s)) for s in range(20)}) > 1


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "query"),
        _span(1, 0, 1.0, 4.0, "plan"),
        _span(2, 0, 3.0, 6.0, "exec"),  # overlaps plan: counted once
        _span(3, 2, 4.0, 5.0, "publish"),  # grandchild: not the query's
        _span(4, 0, 9.0, 12.0, "late"),  # clipped to the parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    by = self_time_by_name(spans + [_span(5, None, 0.0, 2.0, "plan")])
    assert by["plan"] == pytest.approx(5.0)


def test_parse_sql_metric():
    assert parse_sql_metric("33,799") == 33799
    assert parse_sql_metric("264.6 KiB") == pytest.approx(264.6 * 1024)
    sized = "total (min, med, max)\n1.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB)"
    assert parse_sql_metric(sized) == pytest.approx(1.5 * 2**20)
    assert parse_sql_metric("") == 0


def test_tree_pids_and_rss_of_this_process():
    ppids = {1: 0, 10: 1, 11: 10, 12: 10, 20: 1, 13: 11}
    assert sorted(tree_pids(10, ppids)) == [10, 11, 12, 13]
    assert tree_rss_bytes(os.getpid()) > 0


def test_canon_hash_is_order_insensitive_and_typed():
    pd = pytest.importorskip("pandas")
    from parity_sweep import canon_hash

    a = pd.DataFrame({"b": [1.0000001, 2.5], "a": [2, 1]})
    b = pd.DataFrame({"a": [1, 2], "b": [2.5, 1.0]})  # rows and columns shuffled
    assert canon_hash(a) == canon_hash(b)  # floats compared at 6 decimals
    assert canon_hash(a)[:2] == (2, ("a", "b"))
    assert canon_hash(a) != canon_hash(b.assign(b=[2.5, 1.01]))


def test_workloads_are_well_formed():
    assert set(WORKLOADS) == {"orders_etl", "curation_mix"}
    assert 0 < SCALE <= 1
    for w in WORKLOADS.values():
        assert w.queries and len(set(w.queries)) == len(w.queries)
