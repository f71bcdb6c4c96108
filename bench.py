#!/usr/bin/env python
"""Benchmark harness: run the engine's queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q_agg_basic": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collection). Session build time is excluded; per-query time is
wall-clock around the action.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_aws_spark import all_queries  # noqa: E402
from data_pipeline_aws_spark.session import get_spark  # noqa: E402

# The driver captures only the last ~2000 chars of stdout and parses the JSON
# line out of that tail. A per-query dict over all ~150 queries is ~4 KB and
# gets truncated mid-line, so the final line carries a fixed headline subset
# (representative query per category, worst offenders included) and the full
# per-query map is written to a JSON file next to this script instead.
#
# Output routing (round-8 fix): BENCH_FULL.json is the COMMITTED closing
# artifact, but the driver re-runs this script after the snapshot commit and
# for three rounds running its post-freeze run clobbered the committed map
# (dirty tree, round-N closing numbers replaced by round-N+1-start numbers).
# Default output is therefore the untracked scratch file BENCH_LATEST.json;
# the builder's closing runs name the tracked artifact explicitly via
# `--out BENCH_FULL.json` (warm) / `--out BENCH_COLD.json` (cold) or
# SPARK_GRAFT_BENCH_OUT. The printed headline line carries the actual path.
HEADLINE = [
    "q_agg_basic", "q_ship_priority", "q_mkt_share", "q_returned_items",
    "q_star_join", "q_join_salted", "q_join_asof", "q_win_frame",
    "q_rollup", "q_cube", "q_percentile", "q_topk_group",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_prefix", "q_dedup_embed",
    "q_dedup_clusters", "q_sim_topk", "q_sim_lsh", "q_sim_ivf",
    "q_text_tokens", "q_text_tfidf", "q_text_bm25", "q_text_quality",
    "q_pagerank", "q_triangles", "q_funnel", "q_retention",
    "q_stream_tumbling", "q_stream_state", "q_stream_stream_join",
    "q_multimodal_decode", "q_seq_pack", "q_kmeans", "q_quantize",
    "q_compact", "q_zorder", "q_bucket_join", "q_dpp",
    "q_semdedup", "q_dedup_embed_lsh", "q_tfidf_cosine", "q_dedup_substring",
    "q_pq_quantize", "q_knn_classify", "q_event_paths", "q_ppl_buckets",
    # round-3 session additions (tail — dropped first if the line overflows)
    "q_dsir_weights", "q_survival_km", "q_bfs_hops", "q_ks_test",
    "q_domain_cap", "q_quality_classifier", "q_global_rownum",
    "q_exact_median", "q_range_sort_sink", "q_woe_iv",
    "q_allocation", "q_slo_burn", "q_stream_late_data", "q_fuzzy_match",
    # round-8 additions (tail — dropped first if the line overflows)
    "q_stream_merge", "q_dedup_eval_sampled", "q_tokenizer_fertility",
    "q_link_predict_capped", "q_retrieval_eval", "q_rerank_score",
]
# Keep safely under the driver's 2000-char stdout tail capture.
MAX_LINE = 1800

# Keys whose fixture is a cached on-disk sink (/tmp/dpas_* built through
# caches.materialize): on a WARM pass the write is skipped (_SUCCESS
# sentinel), so their recorded time measures read-back of the written
# layout, not the write itself. The artifact carries this list; --cold
# clears the caches so pass 0 measures the write-inclusive cost (and those
# keys are then not re-sampled warm).
SINK_CACHE_KEYS = [
    "q_json_ingest", "q_csv_ingest", "q_orc_ingest", "q_partitioned_sink",
    "q_corrupt_ingest", "q_compact", "q_schema_evolution", "q_gdpr_delete",
    "q_zorder", "q_text_ingest", "q_binary_ingest", "q_range_sort_sink",
    "q_dedup_minhash_incremental",  # persisted signature-index versions
    "q_stream_sink",  # landed foreachBatch epoch layout (cache since r6)
    "q_stream_merge",  # landed DV/delta epoch layout (same rails, r8)
    # shared retrieval-rails cache (r8): first caller pays the corpus pass
    "q_retrieval_eval", "q_rerank_score",
    # r9 table-service layouts: the compaction executor's rewritten set,
    # and the snapshot readers over the stream_merge rails (whichever of
    # the family runs first pays the landed-epoch drain — the payer-moves
    # rule in BASELINE.md's cold-accounting row)
    "q_compaction_execute", "q_time_travel", "q_snapshot_expire",
    "q_sim_ivfpq",  # persisted IVFADC code index + codebook/centroid npy (r10)
    "q_stream_stream_left",  # landed two-stream drain result (r12 advisory:
    # the memory sink was already driver-side; the drain now publishes it
    # once — warm passes read the layout, cold pays the full drain)
    "q_trigger_incremental",  # landed arrival files + committed rollup
    # epochs; warm runs exercise the replay-no-op path against them (r12)
    "q_schema_evolution_nested",  # two-generation nested-struct layout (r12)
    "q_occ_merge",  # published OCC race layout + commit log (r13): warm
    # passes read occ_live over the committed versions, cold re-runs the
    # deterministic four-writer race
]
# The part_lineitem fixture is SHARED: q_partitioned_sink owns the write,
# but q_dpp and q_gdpr_delete read the same cache (ingest.py). In cold
# mode the owner must run FIRST so the write cost lands on the key whose
# operator it is — otherwise alphabetical order bills it to q_dpp and
# records q_partitioned_sink's warm read-back as "cold".
SHARED_FIXTURE_OWNERS = ["q_partitioned_sink"]


def _loadavg_1min() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def _cpu_calibration() -> float:
    """Fixed single-thread CPU anchor (min-of-3 seconds for a deterministic
    numpy workload). Round-7 finding: the host's *speed itself* varies
    across rounds (~1.5× measured between the r6 and r7 sessions at equal
    loadavg), so cross-round per-query comparisons must normalize by this
    anchor, not just check the loadavg stamps. Ratio of two artifacts'
    calib_sec ≈ host-speed factor between them."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.standard_normal((512, 512))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = a.copy()
        for _ in range(8):
            b = b @ a
            b /= np.abs(b).max()
        float(b.sum())
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _clear_sink_caches(sf_dir: str) -> None:
    """Remove ONLY this sf_dir's sink caches. The cache dirs are named
    ``dpas_{kind}_{tag}_{version}`` (caches.versioned_cache_dir, the one
    naming scheme), so scoping the glob to the active tag leaves other
    SF dirs' caches, the ship_package zips, and any concurrent test/driver
    session's fixtures untouched — a blanket ``dpas_*`` rmtree raced those
    mid-run. The tag comes from the caches module itself so the two can't
    silently drift (a mismatched glob would record warm read-backs as
    'cold')."""
    import glob
    import shutil
    import tempfile

    from data_pipeline_aws_spark.caches import sf_tag

    for d in glob.glob(os.path.join(tempfile.gettempdir(), f"dpas_*_{sf_tag(sf_dir)}*")):
        shutil.rmtree(d, ignore_errors=True)


def quiet_gate(max_load: float | None = None) -> tuple[float, float]:
    """Shared quiet-host gate (bench/remeasure/scaling): wait (default up
    to 10 min, 30 s re-samples) for the 1-min loadavg to fall under the
    threshold before recording. Returns (load_start, max_load). A
    contended start inflates totals ~17% and confounded round-6's every
    cross-round signal, so a hot-host number is worse than a late one.
    SPARK_GRAFT_BENCH_QUIET_WAIT=0 skips the wait."""
    if max_load is None:
        max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "4.0"))
    wait_left = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "600"))
    load_start = _loadavg_1min()
    while load_start > max_load and wait_left > 0:
        print(
            f"host busy (1-min loadavg {load_start} > {max_load}); "
            f"waiting up to {wait_left:.0f}s for quiet",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(30)
        wait_left -= 30
        load_start = _loadavg_1min()
    return load_start, max_load


class CalibTracker:
    """Attribute each query run to the pair of host-speed anchor samples
    that bracket it (round-14 self-heal, VERDICT r13 order #2).

    The round-13 hardening detects a mid-run co-tenant burst (mid-run
    anchor samples) but can only *stamp* the artifact contaminated; this
    round the bench also *repairs* it: a run whose bracketing samples are
    both within ``factor`` of the run's fastest sample is "clean" —
    min-of-N over at least one clean run is a trustworthy number even if
    other runs of the same key were burst-inflated (contention inflates,
    never deflates, so a dirty run can only lose the min()). Keys with no
    clean run get re-measured inside the pass-2 budget, suspects first.
    Pure bookkeeping — no timing of its own; unit-tested without Spark."""

    FACTOR = 1.5

    def __init__(self, first_sample: float) -> None:
        self.samples = [first_sample]
        self._last = first_sample
        self._pending: list[str] = []
        self.brackets: dict[str, list[float]] = {}

    def note_run(self, name: str) -> None:
        self._pending.append(name)

    def sample(self, value: float) -> None:
        """Record an anchor sample; every run since the previous sample is
        bracketed by (previous, this) and charged the worse of the two."""
        for n in self._pending:
            self.brackets.setdefault(n, []).append(max(self._last, value))
        self._pending.clear()
        self._last = value
        self.samples.append(value)

    def run_min(self) -> float:
        return min(self.samples)

    def best_bracket(self, name: str) -> float:
        return min(self.brackets.get(name, [float("inf")]))

    def adjacent_ratio(self, name: str) -> float:
        """Best bracket over the run minimum: <= FACTOR means at least one
        of this key's runs was recorded between two quiet anchor samples."""
        return round(self.best_bracket(name) / max(self.run_min(), 1e-9), 3)

    def suspects(self, names) -> list[str]:
        """Keys with no quiet run: judged on the same rounded ratio the
        artifact stamps as ``calib_adjacent``, so no key is both."""
        return sorted(n for n in names if self.adjacent_ratio(n) > self.FACTOR)


def _flag_value(args: list[str], flag: str) -> str | None:
    """Value following ``flag`` in args, exiting with usage (not a
    post-run IndexError) when the flag dangles without one."""
    if flag not in args:
        return None
    i = args.index(flag)
    if i + 1 >= len(args):
        sys.exit(f"usage: {flag} <value> (flag given without a value)")
    return args[i + 1]


def main() -> None:
    # Parse argv FIRST: a dangling --out must die at startup, not after a
    # 15-minute run has already produced the data it then fails to write.
    out_name = (
        _flag_value(sys.argv, "--out")
        or os.environ.get("SPARK_GRAFT_BENCH_OUT", "")
        or "BENCH_LATEST.json"  # untracked scratch — see header note
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    # Quiet-host guard (shared quiet_gate; every artifact still carries
    # start/end loadavg and a host_contended flag).
    # SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 hard-refuses instead of stamping.
    load_start, max_load = quiet_gate()
    if load_start > max_load and os.environ.get("SPARK_GRAFT_BENCH_REQUIRE_QUIET") == "1":
        print(
            f"host busy (1-min loadavg {load_start} > {max_load}); refusing to record",
            file=sys.stderr,
        )
        sys.exit(2)

    cold = "--cold" in sys.argv or os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    if cold:
        _clear_sink_caches(sf_dir)

    # Host-SPEED drift guard (round-10 lesson: the closing host slowed ~3×
    # MID-RUN — calib 0.0153→0.0465 — costing seven spurious >1.3×
    # round-over-round rows and a remeasure). The anchor is sampled at
    # start AND end; a ratio beyond 1.5× in either direction stamps
    # host_drifted=true so cross-round medians exclude the artifact, and
    # SPARK_GRAFT_BENCH_REQUIRE_STABLE=1 makes the run refuse (exit 3)
    # so the closing protocol re-records instead of shipping footnotes.
    #
    # Round-13 hardening: endpoint-only sampling misses a co-tenant burst
    # that starts AND ends mid-run (measured: a run whose endpoints agreed
    # within 1.05× carried ~20 keys inflated 1.5-2× against isolated
    # min-of-3 — and co-tenant CPU steal is invisible in this VM's own
    # loadavg). The anchor is now ALSO sampled between queries every
    # ~1/6th of pass 0 (never inside a timed region; ~7 × 0.05 s per
    # run); calib_drift and the stable-gate take max/min over ALL
    # samples, and the artifact carries the full sample list so inflated
    # rows are attributable post-hoc.
    calib_start = _cpu_calibration()
    tracker = CalibTracker(calib_start)
    calib_samples = tracker.samples  # shared list; tracker appends

    # the per-query peak-execution-memory stamps read the status REST API
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    # Warm the JVM + file metadata cache with the flagship once (uncounted),
    # and fork the reusable Python workers with one Arrow-path query so the
    # first pandas-stage query measured doesn't pay the worker cold start.
    queries["q_agg_basic"](spark, sf_dir).write.mode("overwrite").format("noop").save()
    queries["q_pandas_udaf"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # Two passes, min per query: transient host stalls (multi-second
    # scheduler/IO hiccups on shared hardware) hit one pass or the other, and
    # the min reflects the plan's actual cost. Pass 2 runs in DESCENDING
    # pass-1 cost order under a wall budget (env override below): the min
    # matters most where the absolute seconds are. The default budget is
    # sized to re-sample ALL queries (pass 2 ≈ pass-1 total, ~180 s at
    # sf0.1) so every BENCH_FULL.json number is min-of-2; the break is a
    # safety valve for pathological stalls, not an expected path.
    pass2_budget = float(os.environ.get("SPARK_GRAFT_BENCH_PASS2_BUDGET", "450"))
    timings: dict[str, float] = {}
    samples: dict[str, int] = {}

    load_peak = load_start  # 1-min loadavg sampled per query, max kept.
    # Mid-run samples INCLUDE the bench's own local[N] load, so they can't
    # feed the contended verdict directly — but at a fixed bench workload
    # the peak is comparable across artifacts, so an anomalous peak vs
    # prior BENCH_FULL.json files exposes the mid-run co-tenant burst that
    # decays out of the start/end samples within ~1 min.

    # Per-query peak EXECUTION memory (shuffle/sort/agg buffers — the
    # spill-relevant number) from the status REST API: max over the run's
    # stages of the stage's summed task peaks. Best-effort — UI disabled
    # or a field rename records 0, never fails the bench.
    peak_mem: dict[str, int] = {}

    def _stages() -> list[dict]:
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app}/stages?status=COMPLETE"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    def _max_stage_id() -> int:
        try:
            return max((s["stageId"] for s in _stages()), default=-1)
        except Exception:
            return -1

    def _peak_exec_mem(after_stage: int) -> int:
        try:
            return max(
                (
                    s.get("peakExecutionMemory", 0)
                    for s in _stages()
                    if s["stageId"] > after_stage
                ),
                default=0,
            )
        except Exception:
            return 0

    def run_once(name: str, tag: str) -> float:
        nonlocal load_peak
        before = _max_stage_id()
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        elapsed = round(time.perf_counter() - t0, 3)
        if name not in timings or elapsed < timings[name]:
            timings[name] = elapsed
        samples[name] = samples.get(name, 0) + 1
        peak_mem[name] = max(peak_mem.get(name, 0), _peak_exec_mem(before))
        tracker.note_run(name)
        load_peak = max(load_peak, _loadavg_1min())
        print(f"{tag} {name} {elapsed}", file=sys.stderr, flush=True)
        return elapsed

    pass0_order = sorted(queries)
    if cold:  # shared-fixture owners pay their own write (see above)
        pass0_order = SHARED_FIXTURE_OWNERS + [
            n for n in pass0_order if n not in SHARED_FIXTURE_OWNERS
        ]
    # Finer anchor cadence than r13's 1/6th (now ~1/12th): the sample pair
    # bracketing a run decides whether its number is trusted, so shorter
    # segments mean fewer keys to re-measure per dirty segment. Still ~0.05 s
    # per sample, never inside a timed region.
    calib_every = max(1, len(pass0_order) // 12)
    for qi, name in enumerate(pass0_order):
        run_once(name, "pass0")
        if (qi + 1) % calib_every == 0:
            tracker.sample(_cpu_calibration())
    tracker.sample(_cpu_calibration())  # close pass 0's last bracket
    # Keys a heal pass may NOT re-run: under --cold the sink-cache keys'
    # pass-0 number is the write-inclusive cost and a warm re-run would
    # silently replace it with read-back via min().
    unhealable = set(SINK_CACHE_KEYS) if cold else set()

    # Pass 2 (min-of-2 re-sample): suspects from dirty pass-0 segments run
    # FIRST (descending cost within each group) so the burst-inflated rows
    # get their clean re-measure even if the budget exhausts mid-pass
    # (round-14 self-heal; min() discards nothing real). Anchor samples
    # continue through pass 2 so these runs are bracket-attributed too.
    pass2_start = time.perf_counter()
    suspect0 = [n for n in tracker.suspects(timings) if n not in unhealable]
    by_cost = sorted(timings, key=timings.get, reverse=True)
    pass2_order = [n for n in by_cost if n in suspect0] + [
        n for n in by_cost if n not in suspect0
    ]
    if suspect0:
        print(
            f"self-heal: {len(suspect0)} pass-0 keys ran in a dirty calib "
            f"segment; re-measuring them first in pass 1",
            file=sys.stderr,
            flush=True,
        )
    for qi, name in enumerate(pass2_order):
        if time.perf_counter() - pass2_start > pass2_budget:
            print(f"pass1 budget exhausted before {name}", file=sys.stderr, flush=True)
            break
        if cold and name in SINK_CACHE_KEYS:
            continue  # keep the cold (write-inclusive) pass-0 number
        el = run_once(name, "pass1")
        # Expensive keys get a PER-KEY bracket (pass 2 runs cost-descending,
        # so this covers the whole >1 s head): the round-14 baseline run
        # showed a sub-segment burst inflating a 0.8 s key to 2.9 s while
        # both ~28-key segment samples read quiet — per-key sampling costs
        # ~0.05 s outside the timed region and makes the trust stamp tight
        # exactly where the seconds (and PERF comparisons) are.
        if el > 1.0 or (qi + 1) % calib_every == 0:
            tracker.sample(_cpu_calibration())
    tracker.sample(_cpu_calibration())

    # Heal loop: while any key still has no cleanly-bracketed run and pass-2
    # budget remains, wait out an ongoing burst (the anchor itself is the
    # only detector that sees co-tenant CPU steal — loadavg does not), then
    # re-run the stragglers with a tight per-key bracket. min() keeps the
    # best observation; a re-run during a still-hot window only wastes its
    # own seconds, never corrupts the map.
    for heal_round in range(3):
        budget_left = pass2_budget - (time.perf_counter() - pass2_start)
        suspects = [n for n in tracker.suspects(timings) if n not in unhealable]
        if not suspects or budget_left <= 0:
            break
        print(
            f"self-heal round {heal_round}: {len(suspects)} keys lack a "
            f"clean calib bracket ({suspects[:8]}{'...' if len(suspects) > 8 else ''}); "
            f"{budget_left:.0f}s budget left",
            file=sys.stderr,
            flush=True,
        )
        probe = _cpu_calibration()
        tracker.sample(probe)
        while (
            probe > CalibTracker.FACTOR * tracker.run_min()
            and time.perf_counter() - pass2_start < pass2_budget
        ):
            time.sleep(10)  # burst still on: re-running now can't help
            probe = _cpu_calibration()
            tracker.sample(probe)
        for name in sorted(suspects, key=timings.get, reverse=True):
            if time.perf_counter() - pass2_start > pass2_budget:
                break
            run_once(name, f"heal{heal_round}")
            tracker.sample(_cpu_calibration())

    total = round(sum(timings.values()), 3)
    single_sample = sorted(n for n, k in samples.items() if k < 2)
    if single_sample:
        print(f"WARNING: single-sample timings for {single_sample}", file=sys.stderr)
    load_end = _loadavg_1min()
    calib_end = _cpu_calibration()
    tracker.sample(calib_end)
    calib_drift = round(
        max(calib_samples) / max(min(calib_samples), 1e-9), 3
    )
    # Round-14 semantics: a mid-run burst no longer condemns the artifact
    # wholesale. Every key whose best run sits between two quiet anchor
    # samples (calib_adjacent <= 1.5) is trustworthy regardless of what the
    # host did elsewhere in the run; host_drifted now means "a burst
    # happened AND some keys could not be re-measured in a clean window" —
    # those keys are listed so medians can drop rows, not artifacts.
    calib_suspects = tracker.suspects(timings)
    host_drifted = calib_drift > 1.5 and bool(calib_suspects)
    if calib_drift > 1.5 and not calib_suspects:
        print(
            f"note: host speed swung {calib_drift}x mid-run but every key "
            f"has a cleanly-bracketed measurement after self-heal; artifact "
            f"is trustworthy (per-key calib_adjacent stamped)",
            file=sys.stderr,
        )
    if host_drifted:
        print(
            f"WARNING: host speed drifted {calib_drift}x mid-run "
            f"(calib samples {calib_samples}) and {len(calib_suspects)} "
            f"keys have no clean bracket ({calib_suspects[:10]}); artifact "
            f"stamped host_drifted=true — trust only rows with "
            f"calib_adjacent <= 1.5",
            file=sys.stderr,
        )
        if os.environ.get("SPARK_GRAFT_BENCH_REQUIRE_STABLE") == "1":
            print("refusing to record a drifted closing artifact", file=sys.stderr)
            sys.exit(3)
    full = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # max single-STAGE peak execution memory (bytes) observed across the
        # query's passes — the spill-safety number SURVEY candidate (e)
        # asked for; 0 = expression-only plan that never reserved execution
        # memory (or status API unavailable)
        "peak_exec_mem_bytes": peak_mem,
        "samples": samples,
        "single_sample_queries": single_sample,
        "sf": sf,
        "n_queries": len(timings),
        # verdict from the pre-Spark start sample AND the end sample: the
        # bench's own bursty local[N] load decays between queries, so a
        # quiet run ends around loadavg ~2 (measured: 2.3 warm / 2.0 cold
        # at sf0.1) — an end sample above max_load therefore indicates a
        # co-tenant tail, not self-load. peak is informational only (it
        # can't separate self from co-tenant mid-run; compare it across
        # artifacts at this fixed workload instead).
        "loadavg_1min": {"start": load_start, "peak": load_peak, "end": load_end},
        "host_contended": load_start > max_load or load_end > max_load,
        "calib_sec": calib_end,
        "calib_sec_start": calib_start,
        # all anchor samples, run order (start, mid-run every ~1/12th of
        # each pass + one per heal run, end) — drift is max/min over these
        "calib_samples": calib_samples,
        "calib_drift": calib_drift,
        "host_drifted": host_drifted,
        # per-key trust stamp (round-14 self-heal): best bracketing anchor
        # pair over the run minimum — <= 1.5 means at least one of the
        # key's runs was recorded between two quiet samples and its min()
        # is burst-free; keys above 1.5 are listed in
        # calib_suspect_queries and should be dropped from cross-round
        # medians individually instead of discarding the whole artifact
        "calib_adjacent": {n: tracker.adjacent_ratio(n) for n in sorted(timings)},
        "calib_suspect_queries": calib_suspects,
        "sink_mode": "cold_write_inclusive" if cold else "warm_readback",
        "sink_cache_keys": [n for n in SINK_CACHE_KEYS if n in timings],
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), out_name)
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError as exc:  # read-only checkout: stderr still has per-pass times
        print(f"{out_name} not written: {exc}", file=sys.stderr)

    headline = [n for n in HEADLINE if n in timings]
    line_for = lambda names: json.dumps(  # noqa: E731
        {
            "metric": "total_query_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in names},
            "sf": sf,
            "n_queries": len(timings),
            "full": out_name,
        },
        separators=(",", ":"),
    )
    while len(line_for(headline)) > MAX_LINE and headline:
        headline.pop()
    print(line_for(headline))


if __name__ == "__main__":
    main()
