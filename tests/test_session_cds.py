"""The driver JVM's class-data-sharing archive (``session.ClassArchive``).

Pure-Python tests cover the key and when CDS stays off. Two fault-injection
tests start JVMs in subprocesses, each with its own cache directory: a
truncated archive at the final path is never mapped (JDK 17 dies of SIGBUS
on one), and a recorder JVM killed while its process waits for the dump
publishes nothing and leaves nothing behind."""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import pytest

from data_pipeline_aws_spark import session
from data_pipeline_aws_spark.session import ARCHIVE, ClassArchive, archive_key

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _fake_install(tmp_path):
    """A JDK (bin/java + release) and a SPARK_HOME (jars/, conf/) to key on."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("#!/bin/sh\n")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"x" * 100)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    return jdk, home


@pytest.fixture
def fake_env(tmp_path, monkeypatch):
    jdk, home = _fake_install(tmp_path)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return jdk, home, str(tmp_path / "xdg" / "spark-graft" / "cds")


def test_key_follows_jars_and_jdk(tmp_path):
    jdk, home = _fake_install(tmp_path)
    java, jars = str(jdk / "bin" / "java"), str(home / "jars")
    jar = home / "jars" / "spark-core.jar"
    base = archive_key(java, jars, "-Xmx16g")
    assert archive_key(java, jars, "-Xmx16g") == base
    assert archive_key(java, jars, "-Xmx8g") != base
    jar.write_bytes(b"x" * 101)  # size
    assert archive_key(java, jars, "-Xmx16g") != base
    jar.write_bytes(b"x" * 100)
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime
    moved = archive_key(java, jars, "-Xmx16g")
    assert moved != base
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')  # JDK update
    assert archive_key(java, jars, "-Xmx16g") != moved


def test_user_conf_dir_gives_no_flag(fake_env, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "mine"))
    env = dict(os.environ)
    a = ClassArchive.plan("-Xmx16g")
    assert (a.mode, a.flags) == ("off", "")
    assert dict(os.environ) == env
    assert not os.path.exists(fake_env[2])


def test_non_template_conf_file_gives_no_flag(fake_env):
    _, home, root = fake_env
    (home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    env = dict(os.environ)
    a = ClassArchive.plan("-Xmx16g")
    assert (a.mode, a.flags) == ("off", "")
    assert dict(os.environ) == env
    assert not os.path.exists(root)
    # the same install with templates only records
    (home / "conf" / "spark-defaults.conf").unlink()
    a = ClassArchive.plan("-Xmx16g")
    try:
        assert a.mode == "record" and f"-XX:ArchiveClassesAtExit={a.recording}" in a.flags
        assert dict(os.environ) == env
    finally:
        os.unlink(a.recording)


def test_dead_leftovers_are_reaped_and_one_recorder_per_key(fake_env):
    jdk, home, root = fake_env
    key = archive_key(str(jdk / "bin" / "java"), str(home / "jars"), "-Xmx16g")
    dead = _dead_pid()
    os.makedirs(os.path.join(root, f"{key}.build{dead}-1"))
    open(os.path.join(root, f"{key}.rec-{dead}.jsa"), "w").close()
    first = ClassArchive.plan("-Xmx16g")
    try:
        assert first.mode == "record" and first.key == key
        assert sorted(os.listdir(root)) == sorted(["conf", os.path.basename(first.recording), f"{key}.rec.lock"])
        # a live process records this key: the next launch neither records
        # nor touches that recording
        second = ClassArchive.plan("-Xmx16g")
        assert (second.mode, second.flags) == ("off", "")
        assert os.path.exists(first.recording)
    finally:
        os.unlink(first.recording)
        first.claim.close()


def test_two_planners_at_once_give_one_recorder(fake_env, monkeypatch):
    """Two threads list the cache directory at the same moment; the
    recording lock still lets exactly one of them record."""
    root = fake_env[2]
    os.makedirs(root)
    both_listed = threading.Barrier(2, timeout=30)
    waited = set()
    real_listdir = os.listdir

    def listdir(path="."):
        names = real_listdir(path)
        if path == root and threading.get_ident() not in waited:
            waited.add(threading.get_ident())
            both_listed.wait()
        return names

    monkeypatch.setattr(os, "listdir", listdir)
    plans = []
    threads = [threading.Thread(target=lambda: plans.append(ClassArchive.plan("-Xmx16g"))) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    try:
        assert len(plans) == 2
        assert sorted(a.mode for a in plans) == ["off", "record"]
    finally:
        for a in plans:
            if a.mode == "record":
                os.unlink(a.recording)
                a.claim.close()


# ---- fault injection with real JVMs ----------------------------------------

_PROBE = """
import json, sys
from pyspark import SparkContext
from data_pipeline_aws_spark import all_queries, load_all
from data_pipeline_aws_spark.session import get_spark
spark = get_spark("cds-probe")
load_all()
rows = len(all_queries()["q_agg_basic"](spark, sys.argv[1]).collect())
print(json.dumps({
    "cds": spark.conf.get("spark.dpas.cds"),
    "opts": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"),
    "jvm": SparkContext._gateway.proc.pid,
    "rows": rows,
}), flush=True)
"""


def _start(xdg: str, sf_dir: str) -> subprocess.Popen:
    os.makedirs(xdg, exist_ok=True)  # also the cwd: a crashing JVM writes hs_err_pid*.log there
    env = dict(os.environ, XDG_CACHE_HOME=xdg, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="2")
    env.pop("SPARK_CONF_DIR", None)
    return subprocess.Popen(
        [sys.executable, "-c", _PROBE, sf_dir], cwd=xdg, env=env, stdout=subprocess.PIPE, text=True
    )


def _report(p: subprocess.Popen) -> dict:
    for line in p.stdout:  # a crashing JVM prints its fatal-error report here
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"probe exited {p.wait(timeout=120)} before reporting")


def _leftovers(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "*.rec-*")) + glob.glob(os.path.join(root, "*.build*"))


def test_truncated_archive_is_never_mapped(tmp_path, sf_dir):
    xdg = str(tmp_path / "xdg")
    root = os.path.join(xdg, "spark-graft", "cds")
    try:
        p = _start(xdg, sf_dir)
        rec = _report(p)
        assert p.wait(timeout=180) == 0
        assert rec["cds"] == "record" and rec["rows"] > 0
        (key,) = [n for n in os.listdir(root) if n != "conf"]
        final = os.path.join(root, key)
        archive = os.path.join(final, ARCHIVE)
        size = os.path.getsize(archive)
        assert size > 1 << 20 and open(os.path.join(final, "_SUCCESS")).read() == str(size)
        assert _leftovers(root) == []

        p = _start(xdg, sf_dir)
        hit = _report(p)
        assert p.wait(timeout=120) == 0
        assert hit["cds"] == "hit" and f"-XX:SharedArchiveFile={archive}" in hit["opts"]

        # the first 1 MB of the real recording, renamed onto the path the
        # JVM maps (truncating in place would crash the previous probe's
        # JVM, which may still be exiting with the file mapped)
        with open(archive, "rb") as f, open(f"{archive}.cut", "wb") as cut:
            cut.write(f.read(1 << 20))
        os.replace(f"{archive}.cut", archive)
        p = _start(xdg, sf_dir)
        again = _report(p)
        assert p.wait(timeout=180) == 0
        assert again["cds"] == "record" and "SharedArchiveFile" not in again["opts"]
        assert again["rows"] == rec["rows"]
        # the damaged archive was replaced by a fresh recording
        assert session._intact(final) and os.path.getsize(archive) > 1 << 20
        assert _leftovers(root) == []
    finally:
        shutil.rmtree(xdg, ignore_errors=True)


def test_recorder_killed_in_exit_wait_publishes_nothing(tmp_path, sf_dir):
    xdg = str(tmp_path / "xdg")
    root = os.path.join(xdg, "spark-graft", "cds")
    try:
        p = _start(xdg, sf_dir)
        rec = _report(p)
        assert rec["cds"] == "record"
        # the probe's main module is done; its exit hook now stops Spark and
        # waits out the archive dump (about 15 s), so 2 s in the JVM is dumping
        time.sleep(2.0)
        os.kill(rec["jvm"], signal.SIGKILL)
        assert p.wait(timeout=120) == 0
        assert glob.glob(os.path.join(root, "*", "_SUCCESS")) == []
        assert _leftovers(root) == []
    finally:
        shutil.rmtree(xdg, ignore_errors=True)
