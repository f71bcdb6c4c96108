"""Pure helpers of the benchmark: percentiles, span self time, the seeded
pass order, SQL-metric parsing and the /proc process-tree memory reading.
Nothing here starts Spark, so ``perfbench/tests`` runs without a JVM."""

from __future__ import annotations

import math
import os
import random
import re
from collections import defaultdict

# ---------------------------------------------------------------- percentiles


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(round(q * len(xs) / 100.0, 9)))
    return xs[rank - 1]


def supported_percentile(n: int, want: float = 90.0, beyond: int = 10) -> float | None:
    """The highest percentile up to ``want`` that leaves at least ``beyond``
    of ``n`` samples above it, or None when not even the median does."""
    best = min(want, 100.0 * (n - beyond) / n) if n else 0.0
    return best if best >= 50.0 else None


# ---------------------------------------------------------------- pass order


def pass_order(names: list[str], seed: int) -> list[str]:
    """The seeded permutation the run's passes follow: same seed, same order;
    independent of the order ``names`` arrive in."""
    return random.Random(seed).sample(sorted(names), len(names))


# ---------------------------------------------------------------- spans


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    covered by its direct children (overlapping children counted once,
    children clipped to the parent). Spans are dicts with ``id``,
    ``parent`` (an id or None), ``start`` and ``end``."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name (the per-layer view of a trace)."""
    st = self_times(spans)
    agg: dict[str, float] = defaultdict(float)
    for s in spans:
        agg[s["name"]] += st[s["id"]]
    return dict(agg)


# ---------------------------------------------------------------- SQL metrics

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_sql_metric(text: str) -> float:
    """Numeric total of a SQL UI metric value. Plain sums read ``"12,345"``;
    size/timing metrics read ``"total (min, med, max ...)\\n1.5 MiB (...)"``,
    whose total is the first number on the second line."""
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


# ---------------------------------------------------------------- /proc


def _ppid_map(proc: str = "/proc") -> dict[int, int]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces/parens: the fields after the LAST ')' are fixed
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree_pids(root: int, ppids: dict[int, int]) -> list[int]:
    """``root`` and every descendant in a pid -> ppid map."""
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in ppids.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    """Resident bytes of ``root``'s whole process tree right now."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root, _ppid_map(proc)):
        try:
            with open(f"{proc}/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total
