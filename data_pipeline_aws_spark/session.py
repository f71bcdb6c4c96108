"""SparkSession factory — the engine's one place for execution config.

The reference declares its runtime as an AWS Glue ``glueetl`` Spark job
(``lambda-stack.yml:17``) with no tuning at all; here the equivalent knobs are
explicit and scale-aware:

- AQE on (runtime coalescing, skew-join splitting, SMJ→BHJ conversion) — the
  100 TB story: partition counts and join strategies self-correct from
  runtime statistics rather than being hand-scheduled.
- ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a real
  cluster AQE's ``advisoryPartitionSizeInBytes`` takes over after the initial
  value, so the setting here is a floor, not a schedule.
- UTC session timezone — oracle (DuckDB) parity and sane cross-region
  semantics.
- Arrow enabled — every pandas interchange (Pandas UDFs, toPandas) is
  columnar-batched, never per-row pickled.

Cold start. The reference runs one Spark job per data arrival
(``lambda-stack.yml:23-55``), so every arrival starts a fresh driver JVM, and
most of ``get_spark`` is that JVM loading and verifying Spark's classes.
``get_spark`` keeps a JDK dynamic class-data-sharing archive of them (AppCDS,
JEP 350) in ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/<key>/``. The key
covers the JDK (the resolved ``java`` and its ``release`` file), the name,
size and mtime of every jar in ``$SPARK_HOME/jars`` and the driver JVM
options. The first process without an archive for its key launches the JVM
with ``-XX:ArchiveClassesAtExit``. At interpreter exit it stops Spark, waits
for the JVM's clean exit, which writes the archive (about 170 MB, and about
15 s of exit time once, on a 4-core host), and publishes it through
``caches.materialize``. Every later launch maps it with
``-XX:SharedArchiveFile``, which roughly halves ``get_spark``. The session
says which happened in ``spark.dpas.cds``: ``hit``, ``record`` or ``off``.
Deleting the directory resets the archive; the next process records it
again. CDS stays off when the directory cannot be written (a plain file at
its path turns it off for good), when ``SPARK_CONF_DIR`` is set or
``$SPARK_HOME/conf`` holds anything but ``*.template`` files (JDK 17 will not
record with a non-empty directory on the classpath, so CDS launches point
``SPARK_CONF_DIR`` at an empty directory), when the process already has a
gateway JVM, and while another live process records the same key. A
recorder holds the key's ``caches.pid_lock``, ``<key>.rec.lock``, from
planning until its archive is published; every ``<key>.*`` file is a
recorder's, so the next holder deletes what a killed one left.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from data_pipeline_aws_spark import caches

# The runtime-settable settings every engine session carries: get_spark builds
# with them, and tune_session applies them to a session built elsewhere.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Start every AQE shuffle WIDE and let runtime stats coalesce down
    # (AQE can merge partitions but never split beyond the initial
    # number). The round-12 sf10 decade showed the fixed 32-wide floor
    # crossing the single-host spill cliff on the shuffle-heaviest
    # keys: q_link_predict 265->124 s, q_dedup_clusters 166->86 s at
    # initial=256, while a 12-key sf0.1 spot-check was flat-to-faster
    # (q_item_item_recs 3.2->2.2 s). This is the idiomatic answer —
    # width from runtime statistics, not a hand-tuned constant.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # CBO on from session build, not flipped mid-session by the first
    # catalog query (round-12 ADVICE: a mid-session flip made plans
    # execution-order dependent). Runtime-safe: with no table
    # statistics present CBO degrades to the default estimator, so
    # non-catalog queries plan identically either way.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bucketed tables are written one-file-per-bucket (see
    # sources/ingest.py); with that invariant the catalog's SORTED BY
    # metadata is safe to trust, letting bucket joins skip the sort as
    # well as the shuffle. (Off by default since 3.0 because multi-file
    # buckets force a single-threaded merge-read — not our layout.)
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}

DRIVER_JAVA_OPTS = "-XX:+UseG1GC -XX:MaxGCPauseMillis=200"

ARCHIVE = "classes.jsa"  # the archive file inside <key>/; _SUCCESS holds its byte size
# Bound on the recording JVM's exit. Writing the archive takes about 15 s on
# a 4-core host; a normal exit takes half a second.
EXIT_WAIT_S = 60.0


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers regardless
    of their working directory: zip the package source once per code version
    and ``sc.addPyFile`` it.

    Module-level functions handed to mapInPandas/mapInArrow are cloudpickled
    BY REFERENCE (module + qualname) — the worker must be able to import the
    module, and workers do not inherit the driver's ``sys.path`` edits. This
    is the same move a real cluster deployment makes (``--py-files``); in
    local mode it costs one ~100 KB zip per code version."""
    sources = []
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    for dirpath, dirnames, files in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        sources += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    h = hashlib.md5()
    for p in sorted(sources):
        h.update(p.encode())
        h.update(open(p, "rb").read())
    zpath = os.path.join(tempfile.gettempdir(), f"dpas_pkg_{h.hexdigest()[:10]}.zip")
    if not os.path.exists(zpath):
        root = os.path.dirname(pkg_dir)
        tmp = f"{zpath}.tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(sources):
                z.write(p, os.path.relpath(p, root))
        os.replace(tmp, zpath)  # atomic: concurrent sessions race safely
    spark.sparkContext.addPyFile(zpath)


def archive_key(java: str, jars_dir: str, java_opts: str) -> str:
    """What a recorded class archive depends on: the JDK (the resolved ``java``
    and its ``release`` file), every jar in ``jars_dir`` by name, size and
    mtime, and the driver JVM options. A change to any of them gives a new
    key, so an archive recorded against other classes is never mapped."""
    h = hashlib.sha256(f"{java}\0{java_opts}".encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
        h.update(f.read())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _intact(final: str) -> bool:
    """The published archive has the byte size recorded in its ``_SUCCESS``.
    JDK 17 dies of SIGBUS mapping a truncated archive, even under
    ``-Xshare:auto``, so nothing else may reach ``-XX:SharedArchiveFile``."""
    try:
        with open(os.path.join(final, "_SUCCESS")) as f:
            return int(f.read()) == os.path.getsize(os.path.join(final, ARCHIVE))
    except (OSError, ValueError):
        return False


def _claim(root: str, key: str) -> contextlib.ExitStack | None:
    """Take ``key``'s recording lock without waiting and delete what dead
    recorders of ``key`` left; None while a live process records it."""
    claim = contextlib.ExitStack()
    lock = os.path.join(root, f"{key}.rec.lock")
    if not claim.enter_context(caches.pid_lock(lock, until=lambda: True)):
        claim.close()
        return None
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if not name.startswith(f"{key}.") or path.startswith(lock):
            continue
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
    return claim


class ClassArchive:
    """The driver JVM's class-data-sharing archive for one launch.

    ``mode`` is ``hit`` (map the published archive), ``record`` (record one
    at exit and publish it) or ``off``; ``flags`` are the JVM options that do
    it. `plan` decides; `launch` starts the JVM with them."""

    def __init__(
        self, mode: str = "off", flags: str = "", root: str = "", key: str = "", claim: contextlib.ExitStack | None = None
    ) -> None:
        self.mode, self.flags, self.root, self.key = mode, flags, root, key
        self.claim = claim or contextlib.ExitStack()  # holds the recording lock
        self.final = os.path.join(root, key)
        self.recording = f"{self.final}.rec-{os.getpid()}.jsa"

    @classmethod
    def plan(cls, java_opts: str) -> ClassArchive:
        """Decide for a driver JVM about to start with ``java_opts``; delete the
        files of dead recorders on the way."""
        if os.environ.get("SPARK_CONF_DIR") or "PYSPARK_GATEWAY_PORT" in os.environ:
            return cls()  # a user's configuration, or a JVM this process does not start
        spark_home = _find_spark_home()
        with contextlib.suppress(FileNotFoundError):
            if any(not n.endswith(".template") for n in os.listdir(os.path.join(spark_home, "conf"))):
                return cls()
        home = os.environ.get("JAVA_HOME")
        java = os.path.join(home, "bin", "java") if home else shutil.which("java")
        root = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "spark-graft", "cds"
        )
        try:
            os.makedirs(os.path.join(root, "conf"), exist_ok=True)
            key = archive_key(os.path.realpath(java), os.path.join(spark_home, "jars"), java_opts)
            names = os.listdir(root)
        except (OSError, TypeError):  # not writable, or no JDK / jars to key on
            return cls()
        if not os.access(root, os.W_OK):
            return cls()
        final = os.path.join(root, key)
        if os.path.exists(os.path.join(final, "_SUCCESS")):
            if _intact(final):
                return cls("hit", f"-XX:SharedArchiveFile={os.path.join(final, ARCHIVE)}", root, key)
            shutil.rmtree(final, ignore_errors=True)  # damaged: record it again
        for other in {n.split(".")[0] for n in names if "." in n} - {key, ""}:
            if (stale := _claim(root, other)) is not None:
                stale.close()
        claim = _claim(root, key)
        if claim is None:
            return cls()  # one recording per key at a time
        archive = cls("record", "", root, key, claim)
        open(archive.recording, "w").close()
        archive.flags = f"-XX:ArchiveClassesAtExit={archive.recording} -Xlog:cds=off"
        return archive

    def launch(self, builder: SparkSession.Builder) -> SparkSession:
        """``getOrCreate`` with the empty conf directory on the classpath (set
        for the launch only, so no child process mistakes it for a user's),
        and the exit hook armed when recording."""
        if self.mode == "off":
            return builder.getOrCreate()
        os.environ["SPARK_CONF_DIR"] = os.path.join(self.root, "conf")
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        if self.mode == "record":
            atexit.register(self.finish, SparkContext._gateway.proc)
        return spark

    def finish(self, proc: subprocess.Popen) -> None:
        """At interpreter exit: stop Spark and close the gateway's stdin, so
        the JVM exits cleanly and writes the recording; then publish it and
        drop every other key's archive. A JVM that does not exit 0 within
        `EXIT_WAIT_S` is killed, and its recording is deleted unpublished."""
        t0 = time.monotonic()
        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):  # a dead JVM cannot stop
                sc.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            code = proc.wait(timeout=EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        try:
            size = os.path.getsize(self.recording) if code == 0 and os.path.isfile(self.recording) else 0
            if size:
                caches.materialize(self.final, self._adopt)
                for name in os.listdir(self.root):
                    if name not in (self.key, "conf") and "." not in name:
                        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
            print(
                f"spark-graft: class archive {'published' if size else 'not recorded'}"
                f" ({size / 2**20:.0f} MB, JVM exit {code}, {time.monotonic() - t0:.1f} s): {self.final}",
                file=sys.stderr,
            )
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self.recording)
            self.claim.close()

    def _adopt(self, stage: str) -> None:
        size = os.path.getsize(self.recording)
        os.rename(self.recording, os.path.join(stage, ARCHIVE))
        with open(os.path.join(stage, "_SUCCESS"), "w") as f:
            f.write(str(size))


def get_spark(app_name: str = "data_pipeline_aws_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Return (building if needed) the shared engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    archive = ClassArchive()
    if SparkContext._gateway is None:  # getOrCreate on a live gateway ignores JVM options
        archive = ClassArchive.plan(f"{DRIVER_JAVA_OPTS} -Xmx{memory}")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Re-measured round 3 on the full 185-query sweep (min-of-2 passes,
        # sf0.1): worker reuse improves EVERY Arrow/pandas-stage query 30-55%
        # (q_kmeans 2.29->1.26 s, q_dedup_embed 1.60->0.91, q_stream_state
        # 1.56->1.09, all multimodal ~2x) by skipping the per-task fork +
        # numpy/pandas import; no query regresses beyond run-to-run noise and
        # the round-1 pool-monitor contention no longer reproduces. Env
        # override kept for A/B re-measurement.
        .config(
            "spark.python.worker.reuse",
            os.environ.get("SPARK_GRAFT_WORKER_REUSE", "true"),
        )
        # UI off by default (tests/parity don't need it); bench.py opts in
        # via SPARK_GRAFT_UI=true to read per-stage peakExecutionMemory
        # from the status REST API for its spill-safety stamps.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", memory)
        .config("spark.driver.extraJavaOptions", f"{DRIVER_JAVA_OPTS} {archive.flags}".rstrip())
    )
    return tune_session(archive.launch(builder))  # incl. ship_package for Python workers


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable config to an externally-built session.

    The driver hands ``entry()``/``queries()`` a session it built itself; the
    settings that matter for oracle parity and small-scale latency are all
    runtime-mutable, so apply them here instead of relying on session build
    flags. The session is also stamped with ``spark.dpas.cds``: whether its
    driver JVM mapped (``hit``) or records (``record``) a class archive, or
    neither (``off``).
    """
    conf = spark.conf
    # The driver wraps EVERY queries() call with tune_session; the settings
    # are idempotent, so a sentinel skips ~10 py4j conf round-trips per query
    # after the first call on a given session.
    try:
        if conf.get("spark.dpas.tuned", None) == "1":
            return spark
    except Exception:
        pass
    ship_package(spark)
    for k, v in ENGINE_CONF.items():
        conf.set(k, v)
    try:
        conf.set("spark.python.worker.reuse", "true")  # see get_spark note
    except Exception:
        pass  # static in some deployments; the default then stands
    # Only replace the stock default (200): a caller who deliberately set a
    # higher value keeps it — this engine must not silently retune an
    # externally-owned session's shuffle width for its other workloads.
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) == 200:
            conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        conf.set("spark.sql.shuffle.partitions", "32")
    args = str(spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    conf.set(
        "spark.dpas.cds",
        "record" if "-XX:ArchiveClassesAtExit=" in args else "hit" if "-XX:SharedArchiveFile=" in args else "off",
    )
    conf.set("spark.dpas.tuned", "1")
    return spark
