"""Traced-run instrumentation, installed only with ``--trace 1``.

Everything here wraps the program from outside: spans around the calls the
benchmark makes, one Spark job group per query, the status REST API's job,
stage and SQL metrics, a ``StreamingQueryListener`` and a counting wrapper
around ``caches.publish``. Spans are kept in memory and written out when the
run ends."""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request
from collections import defaultdict
from datetime import datetime

from lib import parse_sql_metric, self_time_by_name, self_times

# SQL metric names of Spark's Python evaluation nodes (ArrowEvalPython,
# MapInPandas, MapInArrow, FlatMapGroupsInPandas, ...)
_UDF_SENT = "data sent to Python workers"
_UDF_RECV = "data returned from Python workers"

# every total reported, zero where a workload never touches the layer
_TOTALS = (
    "exec.cpu_s", "exec.run_s", "exec.gc_s",
    "tables.input_bytes", "tables.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "sources.output_bytes",
    "udf.python_bytes_sent", "udf.python_bytes_received", "udf.python_rows",
)  # fmt: skip


class Tracer:
    """In-memory spans sharing one run id. With ``enabled=False`` every span
    is a no-op, so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        """Spans (each with its self time) plus self time summed per layer."""
        st = self_times(self.spans)
        spans = [{**s, "self": st[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "self_s": self_time_by_name(self.spans), "spans": spans}, f)


def _epoch(spark_time: str) -> float:
    """Seconds since the epoch of a status-API timestamp such as
    ``2026-01-01T12:00:00.123GMT``."""
    return datetime.strptime(spark_time.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class _StreamCounter:
    """Progress totals of every streaming query, fed by a listener."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches = 0
        self.rows = 0
        self.trigger_ms = 0.0

    def snapshot(self) -> tuple[int, int, float]:
        with self.lock:
            return self.batches, self.rows, self.trigger_ms


def _install_stream_listener(spark, counter: _StreamCounter) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with counter.lock:
                counter.batches += 1
                counter.rows += int(p.numInputRows)
                counter.trigger_ms += float(p.durationMs.get("triggerExecution", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())


class LayerProbe:
    """Per-layer counters of a traced run, accumulated over warm passes."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        sc = spark.sparkContext
        self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._groups: dict[str, str] = {}  # job group -> module
        self._windows: list[tuple[float, float, str]] = []  # query span -> module
        self._seen_jobs: set[int] = set()
        self.totals: dict[str, float] = defaultdict(float, dict.fromkeys(_TOTALS, 0.0))
        self.peak_exec_mem = 0
        self.publish_calls = 0
        self.publish_s = 0.0
        self.stream = _StreamCounter()
        _install_stream_listener(spark, self.stream)
        self._wrap_publish()

    def _wrap_publish(self) -> None:
        from data_pipeline_aws_spark import caches

        inner = caches.publish

        def publish(*args, **kwargs):
            t0 = time.perf_counter()
            with self.tracer.span("caches.publish"):
                try:
                    return inner(*args, **kwargs)
                finally:
                    self.publish_calls += 1
                    self.publish_s += time.perf_counter() - t0

        caches.publish = publish

    def begin_query(self, pass_no: int, name: str, module: str) -> None:
        group = f"{self.tracer.run_id}/{pass_no}/{name}"
        self._groups[group] = module
        self.spark.sparkContext.setJobGroup(group, name)

    def end_query(self, span: dict, module: str) -> None:
        self._windows.append((span["start"], span["end"], module))

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.loads(r.read())

    def _module_of(self, job: dict) -> str | None:
        module = self._groups.get(job.get("jobGroup") or "")
        if module is not None:
            return module
        # jobs outside any group (streaming micro-batches run on their own
        # thread) belong to the query running when they were submitted
        t = _epoch(job["submissionTime"]) if job.get("submissionTime") else None
        for lo, hi, m in self._windows:
            if t is not None and lo <= t <= hi:
                return m
        return None

    def collect(self, count: bool) -> None:
        """Attribute every job finished since the last call to the module of
        the query that ran it; add its stage and SQL metrics to the totals
        when ``count`` (warm passes), else only mark it seen."""
        time.sleep(0.5)  # let the status store catch up with the listener bus
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._seen_jobs]
        jobs = [j for j in jobs if j["status"] != "RUNNING"]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        if not count:
            self._windows.clear()
            return
        tot = self.totals
        stage_module: dict[int, str] = {}
        job_ids = set()
        for j in jobs:
            m = self._module_of(j)
            if m is None:
                continue
            job_ids.add(j["jobId"])
            tot[f"{m}.jobs"] += 1
            tot[f"{m}.tasks"] += j["numTasks"] - j.get("numSkippedTasks", 0)
            for sid in j["stageIds"]:
                stage_module.setdefault(sid, m)
        for st in self._get("/stages"):
            if st["stageId"] not in stage_module or st["status"] == "SKIPPED":
                continue
            tot["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            tot["exec.run_s"] += st.get("executorRunTime", 0) / 1e3
            tot["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            self.peak_exec_mem = max(self.peak_exec_mem, st.get("peakExecutionMemory", 0))
            tot["tables.input_bytes"] += st.get("inputBytes", 0)
            tot["tables.input_rows"] += st.get("inputRecords", 0)
            tot["shuffle.write_bytes"] += st.get("shuffleWriteBytes", 0)
            tot["shuffle.read_bytes"] += st.get("shuffleReadBytes", 0)
            tot["shuffle.spill_bytes"] += st.get("diskBytesSpilled", 0)
            tot["sources.output_bytes"] += st.get("outputBytes", 0)
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            if not job_ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if _UDF_SENT not in metrics:
                    continue
                tot["udf.python_bytes_sent"] += parse_sql_metric(metrics[_UDF_SENT])
                tot["udf.python_bytes_received"] += parse_sql_metric(metrics.get(_UDF_RECV, "0"))
                tot["udf.python_rows"] += parse_sql_metric(metrics.get("number of output rows", "0"))
        self._windows.clear()
