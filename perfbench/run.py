#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, end-to-end metrics (or,
with ``--trace 1``, per-layer metrics) printed as the last stdout line.

    python3 perfbench/run.py --workload orders_etl --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It generates the workload's inputs from the
seed (``tools/gen_sf.gen`` with its ``SEED`` set from here; reused by later
runs of the same seed), starts ``perfbench/worker.py`` in a fresh process
whose temp, Spark-local and working directories all live under
``.perfbench/`` in the checkout, and prints every metric by name and unit.
It exits non-zero without a result when the program is not in the checkout,
and non-zero with ``"correct": false`` when any query fails or disagrees
with its DuckDB oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from lib import percentile, supported_percentile
from workloads import SCALE, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0  # the whole run, all children included

# the metrics a run reports, with their units: BENCHMARK.json is the one list
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _need(path: str) -> str:
    full = os.path.join(ROOT, path)
    if not os.path.exists(full):
        sys.exit(f"perfbench: {path} not found under {ROOT}; run from a checkout of the repository")
    return full


def generate(scale: float, seed: int, out: str) -> None:
    """Seeded inputs: ``tools/gen_sf.gen`` with its module ``SEED`` set to the
    run's seed, written to a staging dir and renamed into place."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    spec = importlib.util.spec_from_file_location("gen_sf", _need("tools/gen_sf.py"))
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    gen_sf.SEED = seed
    stage = f"{out}.build{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.gen(scale, stage)
    open(os.path.join(stage, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(stage, out)


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (the JVM and Python workers too) and
    wait until every member has ended."""
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


class Child:
    """One worker process in its own process group, and its result file."""

    def __init__(self, args, data: str, run_dir: str, trace: int, extra: list[str]) -> None:
        tmp = os.path.join(run_dir, "tmp")
        cwd = os.path.join(run_dir, "cwd")
        for d in (tmp, cwd):
            os.makedirs(d, exist_ok=True)
        env = dict(os.environ)
        env.update(
            {
                "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "tools")]),
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
                "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
                # status UI/REST only where the traced run reads it
                "SPARK_GRAFT_UI": "true" if trace else "false",
                # keep the JVM's temp files (and its perf-data file) inside the checkout
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            }
        )
        self.out = os.path.join(run_dir, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--data", data, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--out", self.out, "--t0", repr(time.monotonic()), *extra,
        ]  # fmt: skip
        self.proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, start_new_session=True)

    def finish(self, deadline: float) -> dict:
        """Wait for the worker within the deadline, stop its whole process
        group, and return its JSON result."""
        try:
            code = self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(self.proc)
        if code != 0:
            sys.exit(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}")
        with open(self.out) as f:
            return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    for path in ("data_pipeline_aws_spark/__init__.py", "tools/gen_sf.py", "tools/parity_sweep.py"):
        _need(path)
    load_start = os.getloadavg()[0]
    wl = WORKLOADS[args.workload]
    data = os.path.join(WORK, "data", f"sf{SCALE}-seed{args.seed}")
    generate(SCALE, args.seed, data)

    run_base = os.path.join(WORK, "runs", f"{wl.name}-{args.seed}-{os.getpid()}")
    try:
        res = Child(args, data, os.path.join(run_base, "main"), 0, []).finish(deadline)
        traced = None
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_out = os.path.join(WORK, "traces", f"{os.path.basename(run_base)}.json")
            traced_child = Child(args, data, os.path.join(run_base, "traced"), 1, ["--trace-out", trace_out])
            traced = traced_child.finish(deadline)
    finally:
        shutil.rmtree(run_base, ignore_errors=True)

    failed = res["failed"] + (traced["failed"] if traced else [])
    attempted = res["attempted"] + (traced["attempted"] if traced else 0)
    qs = res["query_s"]
    p90 = percentile(qs, 90)
    tail = supported_percentile(len(qs))
    e2e = {
        "setup_s": res["setup_s"],
        "first_pass_s": res["first_pass_s"],
        "pass_s": statistics.median(res["pass_s"]),
        "query_s.p50": percentile(qs, 50),
    }
    rss_mb = res["peak_rss_bytes"] / 2**20
    print(
        f"host nproc={len(os.sched_getaffinity(0))} load_start={load_start:.2f} "
        f"load_end={os.getloadavg()[0]:.2f} heap={res.get('heap')} workload={wl.name} "
        f"scale={SCALE} seed={args.seed} warm_passes={len(res['pass_s'])} "
        f"query_samples={len(qs)} query_s.p90={p90:.6g} above_p90={sum(x > p90 for x in qs)} "
        f"highest_percentile_with_10_above={'none' if tail is None else f'p{tail:g}'}"
    )
    for m in SPEC["end_to_end"]:
        print(f"{m['name']} {e2e[m['name']]:.6g} {m['unit']}")
    print(f"peak_rss_mb {rss_mb:.6g} MB")
    print(f"failed_ratio {len(failed) / attempted:.6g} 1 ({len(failed)} of {attempted})")
    if failed:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": len(failed), "metrics": {}}))
        sys.exit(f"perfbench: failed or wrong: {sorted(set(failed))}")
    if args.trace:
        values = dict(traced["layers"])
        values["process.peak_rss_mb"] = rss_mb
        values["trace.overhead_s"] = statistics.median(traced["pass_s"]) - statistics.median(res["pass_s"])
        declared = SPEC["per_layer"]
    else:
        values = e2e
        declared = SPEC["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))


if __name__ == "__main__":
    main()
