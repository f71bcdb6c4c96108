"""One benchmark run of one workload, in the fresh process ``run.py`` starts.

Sets up the engine (``session.get_spark`` + ``load_all``), then runs the
workload's queries in passes, one query at a time (a closed loop with one
client): a cold first pass that collects every result, then warm passes
into Spark's ``noop`` sink for the given number of seconds (at least five
passes). After the passes, outside any timed region, every collected result
is compared with its DuckDB oracle over the same input files. Writes its
measurements as JSON to ``--out``; with ``--trace 1`` also the per-layer
counters and the spans.

Usage (normally started by run.py):
    python3 perfbench/worker.py --workload orders_etl --data DIR --seed 1 \\
        --seconds 8 --trace 0 --out result.json --t0 <time.monotonic()>
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

from lib import pass_order, self_times, tree_rss_bytes
from tracing import LayerProbe, Tracer
from workloads import WORKLOADS


def _cache_dirs(data_dir: str) -> list[str]:
    """This data directory's on-disk caches, found by the sf_dir tag the
    caches module names them with."""
    from data_pipeline_aws_spark.caches import sf_tag

    return glob.glob(os.path.join(tempfile.gettempdir(), f"dpas_*_{sf_tag(data_dir)}*"))


# Caches that survive between passes. The OCC race fixture costs 45 Spark jobs
# (6-12 s, twice the rest of an orders_etl pass) and is built once, in the
# cold pass; warm passes read its committed layout. Every other cache is
# rebuilt each pass.
KEPT_CACHES = ("dpas_occ_race_",)

# Warm passes go on until --seconds have passed and at least this many are
# done. A fresh JVM keeps getting faster for a minute or more, so a run that
# times fewer passes because the host is slow at the time is measured earlier
# on that curve, and the spread between runs grows; so does one that times
# more because the host is fast. Five passes take longer than the benchmark's
# run_seconds (8) on both workloads even on a fast host, so every run times
# the same five.
MIN_WARM_PASSES = 5


def _clear_caches(data_dir: str) -> None:
    for d in _cache_dirs(data_dir):
        if not os.path.basename(d).startswith(KEPT_CACHES):
            shutil.rmtree(d, ignore_errors=True)


def _cache_files(data_dir: str) -> int:
    return sum(
        sum(not f.startswith(("_", ".")) for f in files)
        for d in _cache_dirs(data_dir)
        for _, _, files in os.walk(d)
    )


def _check(results: dict, oracles: dict, data_dir: str) -> list[str]:
    """Names whose collected Spark result differs from the DuckDB oracle run
    over the same input files (row count, columns, value hash)."""
    import duckdb
    from parity_sweep import canon_hash

    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for name, got in results.items():
        try:
            want = canon_hash(con.execute(oracles[name]).fetchdf())
        except Exception:
            traceback.print_exc()
            want = None
        if canon_hash(got) != want:
            bad.append(name)
            print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
    con.close()
    return bad


class RssSampler(threading.Thread):
    """Peak resident memory of this process's tree (the driver JVM and the
    Python workers are its descendants), sampled from /proc."""

    def __init__(self, every: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.every, self.peak = every, 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(self.every):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def stop(self) -> int:
        self.done.set()
        self.join()
        return self.peak


class Passes:
    """Runs passes over one workload's queries and keeps their timings."""

    def __init__(self, spark, data_dir, order, module, tracer, probe) -> None:
        self.spark, self.data = spark, data_dir
        self.order, self.module = order, module
        self.tr, self.probe = tracer, probe
        self.attempted = 0
        self.failed: list[str] = []  # one entry per failed or wrong attempt
        self.query_s: list[float] = []  # warm passes only
        self.pass_s: list[float] = []  # warm passes only

    def run(self, queries, pass_no: int, collect: bool = False) -> tuple[float, dict]:
        """One pass; returns its wall time and, with ``collect``, every
        query's result as a pandas frame (else results go to ``noop``)."""
        # every pass pays the write/publish path instead of reading the
        # previous pass's caches back (KEPT_CACHES aside)
        _clear_caches(self.data)
        warm = pass_no > 0  # 0 is the cold pass
        results = {}
        t_pass = time.perf_counter()
        with self.tr.span("pass", n=pass_no):
            for name in self.order:
                m = self.module[name]
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tr.span("query", q=name) as qspan:
                        if self.probe:
                            self.probe.begin_query(pass_no, name, m)
                        with self.tr.span(f"{m}.plan", warm=warm):
                            df = queries[name](self.spark, self.data)
                        with self.tr.span(f"{m}.exec", warm=warm):
                            if collect:
                                results[name] = df.toPandas()
                            else:
                                df.write.format("noop").mode("overwrite").save()
                except Exception:
                    self.failed.append(name)
                    traceback.print_exc()
                if self.probe:
                    self.probe.end_query(qspan, m)
                dt = time.perf_counter() - t0
                print(f"perfbench: pass {pass_no} {name} {dt:.3f}s", file=sys.stderr, flush=True)
                if warm:
                    self.query_s.append(dt)
        elapsed = time.perf_counter() - t_pass
        if warm:
            self.pass_s.append(elapsed)
        return elapsed, results


def _layers(probe: LayerProbe, tr: Tracer, base: tuple, n: int, modules, data_dir: str) -> dict:
    """Per-layer metrics of the traced run, per warm pass where a count."""
    layers: dict[str, float] = defaultdict(float)
    for m in modules:  # every module of every workload, zero where unused
        for k in ("plan_s", "exec_s", "jobs", "tasks"):
            layers[f"{m}.{k}"] = 0.0
    for k, v in probe.totals.items():
        layers[k] += v / n
    st = self_times(tr.spans)
    for s in tr.spans:
        if s["name"] in ("session.get_spark", "registry.load_all"):
            layers[s["name"] + "_s"] = s["end"] - s["start"]
        elif s.get("warm"):  # the plan and exec spans of warm passes
            layers[s["name"] + "_s"] += st[s["id"]] / n
    batches, rows, trigger_ms = probe.stream.snapshot()
    layers.update(
        {
            "exec.peak_exec_mem_bytes": probe.peak_exec_mem,
            "caches.publish_calls": (probe.publish_calls - base[0]) / n,
            "caches.publish_s": (probe.publish_s - base[1]) / n,
            "streaming.microbatches": (batches - base[2][0]) / n,
            "streaming.input_rows": (rows - base[2][1]) / n,
            "streaming.trigger_s": (trigger_ms - base[2][2]) / 1e3 / n,
            "sources.output_files": _cache_files(data_dir),
        }
    )
    inb = layers["tables.input_bytes"]
    layers["sources.write_amp"] = layers["sources.output_bytes"] / inb if inb else 0.0
    return dict(layers)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", help="where a traced run writes its spans")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    tr = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    out: dict = {}
    rss = RssSampler()
    rss.start()

    with tr.span("run"):
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                from data_pipeline_aws_spark.session import get_spark

                spark = get_spark("perfbench")
            with tr.span("registry.load_all"):
                import data_pipeline_aws_spark as pkg

                pkg.load_all()
        out["setup_s"] = time.monotonic() - args.t0
        spark.sparkContext.setLogLevel("ERROR")
        out["heap"] = spark.conf.get("spark.driver.memory", "unset")
        queries, oracles = pkg.all_queries(), pkg.all_oracles()
        modules = {  # query -> the module that registered it (the layer name)
            n: queries[n].__module__.removeprefix("data_pipeline_aws_spark.")
            for w in WORKLOADS.values()
            for n in w.queries
        }
        order = pass_order(list(wl.queries), args.seed)
        probe = LayerProbe(spark, tr) if args.trace else None
        p = Passes(spark, args.data, order, modules, tr, probe)
        # the cold pass is also the run's uncounted warm-up: it is reported
        # on its own and kept out of the warm-pass metrics
        out["first_pass_s"], results = p.run(queries, 0, collect=True)
        if probe:
            probe.collect(count=False)
            base = (probe.publish_calls, probe.publish_s, probe.stream.snapshot())
        t_start = time.monotonic()
        while len(p.pass_s) < MIN_WARM_PASSES or time.monotonic() - t_start < args.seconds:
            p.run(queries, len(p.pass_s) + 1)
            if probe:
                probe.collect(count=True)
        out["peak_rss_bytes"] = rss.stop()  # the oracle check's DuckDB is not the program's
        _stamp("passes done", args.t0)
        with tr.span("check"):
            p.failed += _check(results, oracles, args.data)
        _stamp("oracle check done", args.t0)
    spark.stop()
    _stamp("session stopped", args.t0)

    out.update(pass_s=p.pass_s, query_s=p.query_s, attempted=p.attempted, failed=p.failed)
    if probe:
        out["layers"] = _layers(probe, tr, base, len(p.pass_s), set(modules.values()), args.data)
        tr.write(args.trace_out)
    _write(args.out, out)


def _stamp(what: str, t0: float) -> None:
    print(f"perfbench: {what} at {time.monotonic() - t0:.1f}s", file=sys.stderr, flush=True)


def _write(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


if __name__ == "__main__":
    main()
