"""The one cache-build protocol (`caches.materialize`) and the invariants
that keep it the only one.

The contract tests use pure-Python builds (no Spark) and run under both
publish modes: ``posix`` (rename-adopt) and ``objectstore`` (claim → PUT →
manifest → marker). The lock tests kill real holder processes (pure
Python, no JVM) and race the reap of a dead holder's lock."""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import sys
import tempfile
import threading
import time

import pytest

from data_pipeline_aws_spark import caches

PKG = os.path.dirname(os.path.abspath(caches.__file__))
TESTS = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(params=["posix", "objectstore"])
def mode(request, monkeypatch):
    monkeypatch.setenv("DPAS_PUBLISH_MODE", request.param)
    assert caches.publish_mode() == request.param
    return request.param


def _write_layout(stage: str) -> None:
    """A deterministic two-file layout (no sentinel: materialize adds it)."""
    os.makedirs(os.path.join(stage, "sub"))
    with open(os.path.join(stage, "part-000.parquet"), "wb") as f:
        f.write(b"alpha" * 100)
    with open(os.path.join(stage, "sub", "part-001.parquet"), "wb") as f:
        f.write(b"beta" * 50)


def _stagings(final: str) -> list[str]:
    return glob.glob(f"{final}.build*")


def test_materialize_skips_build_when_committed(mode, tmp_path):
    final = str(tmp_path / "layout")
    os.makedirs(final)
    open(os.path.join(final, "_SUCCESS"), "w").close()
    calls = []
    assert caches.materialize(final, calls.append) == final
    assert calls == []
    assert _stagings(final) == []


def test_materialize_failed_build_leaves_nothing(mode, tmp_path):
    final = str(tmp_path / "layout")

    def build(stage: str) -> None:
        _write_layout(stage)
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError, match="build crashed"):
        caches.materialize(final, build)
    assert _stagings(final) == []
    assert not os.path.exists(os.path.join(final, "_SUCCESS"))


def test_materialize_publishes_through_the_module_global(mode, tmp_path, monkeypatch):
    """A wrapper rebound onto ``caches.publish`` after import sees the
    commit (tracing counts publishes this way), and the sentinel the
    build did not write is added before the publish."""
    seen = []
    inner = caches.publish

    def counting(stage, final, *args):
        seen.append(os.path.exists(os.path.join(stage, "_SUCCESS")))
        inner(stage, final, *args)

    monkeypatch.setattr(caches, "publish", counting)
    final = str(tmp_path / "layout")
    caches.materialize(final, _write_layout)
    assert seen == [True]
    assert os.path.exists(os.path.join(final, "_SUCCESS"))


def test_materialize_two_threads_race_one_layout(mode, tmp_path):
    """Both threads build at once; one layout is committed (never a mix of
    the two builds) and it is byte-identical to a solo build's."""
    solo = caches.materialize(str(tmp_path / "solo"), _write_layout)
    final = str(tmp_path / "layout")
    both_building = threading.Barrier(2, timeout=30)
    errors = []

    def build(stage: str) -> None:
        # dot-named: outside the manifest, but marks whose build landed
        owner = f".owner-{threading.get_ident()}"
        open(os.path.join(stage, owner), "w").close()
        both_building.wait()
        # the other thread's staging must not have touched ours
        assert os.listdir(stage) == [owner]
        _write_layout(stage)

    def run() -> None:
        try:
            assert caches.materialize(final, build) == final
        except Exception as exc:  # noqa: BLE001 - surface in main thread
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads)
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    assert len(glob.glob(os.path.join(final, ".owner-*"))) == 1
    assert caches.manifest_hash(final) == caches.manifest_hash(solo)
    assert _stagings(final) == []


def test_ingest_cache_resolution_spares_live_siblings(tmp_path, monkeypatch):
    """Resolving an ingest cache keeps a concurrent session's same-version
    staging dir and lock file, and still evicts other code versions."""
    from data_pipeline_aws_spark.sources import ingest

    monkeypatch.delenv("DPAS_PUBLISH_MODE", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = "/data/sf-eviction-probe"
    base = os.path.join(str(tmp_path), f"dpas_json_events_{caches.sf_tag(sf_dir)}")
    final = f"{base}_{caches._module_version(ingest.__file__)}"
    os.makedirs(final)
    open(os.path.join(final, "_SUCCESS"), "w").close()
    live_stage = f"{final}.build4242"
    os.makedirs(live_stage)
    open(os.path.join(live_stage, "part-0.json"), "w").close()
    lock = f"{final}.lock"
    open(lock, "w").close()
    stale = f"{base}_deadbeef"
    os.makedirs(stale)

    # committed layout: resolution only, the build (and Spark) never runs
    assert ingest.events_as_json(None, sf_dir) == final
    assert os.path.exists(os.path.join(live_stage, "part-0.json"))
    assert os.path.exists(lock)
    assert not os.path.exists(stale)


def _lines_outside_caches(banned: re.Pattern) -> list[str]:
    """Every line of a package module other than caches.py that matches."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.abspath(caches.__file__):
                continue
            with open(path) as f:
                for no, line in enumerate(f, 1):
                    if banned.search(line):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{no}: {line.strip()}")
    return offenders


def test_one_commit_protocol_in_the_package():
    """Outside caches.py no module stages, publishes or versions a cache
    by hand: every durable cache goes through caches.materialize."""
    banned = re.compile(r"\bstaging_dir\(|\bpublish\(|def \w*_code_version\b")
    assert _lines_outside_caches(banned) == []


def test_one_pid_lock_in_the_package():
    """Outside caches.py no module creates a lock file or probes a PID by
    hand: every cross-process lock is caches.pid_lock."""
    assert _lines_outside_caches(re.compile(r"os\.O_EXCL|os\.kill\(")) == []


# ---- the PID lock: killed holders and the reap race -------------------------

# A holder process: it takes a lock (directly, or inside materialize via a
# wrapped PUT), prints "ready" while holding it, and sleeps until killed.
_HOLDER = """
import os, sys, time
from data_pipeline_aws_spark import caches
from test_caches import _write_layout

point, final = sys.argv[1], sys.argv[2]


def hold():
    print("ready", flush=True)
    time.sleep(300)


if point in ("claim", "mid_upload"):  # objectstore: inside the claim
    puts, real_put = [], caches._put_object

    def put(src, dst):
        if len(puts) == (0 if point == "claim" else 2):
            hold()
        puts.append(dst)
        real_put(src, dst)

    caches._put_object = put
    caches.materialize(final, _write_layout)
elif point == "recovery":
    with caches.pid_lock(final + ".lock"):
        hold()
elif point == "vacuum":
    from data_pipeline_aws_spark.streaming.jobs import _vacuum_lock

    with _vacuum_lock(final):
        with open(os.path.join(final, "part-orphan.bin"), "wb") as f:
            f.write(b"orphan")
        hold()
"""


def _hold(point: str, final: str) -> subprocess.Popen:
    """Start a holder and return once it holds its lock."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([os.path.dirname(PKG), TESTS]))
    p = subprocess.Popen([sys.executable, "-c", _HOLDER, point, final], env=env, stdout=subprocess.PIPE, text=True)
    line = p.stdout.readline()
    if line != "ready\n":
        p.kill()
        raise AssertionError(f"holder {point} exited {p.wait()} before taking its lock")
    return p


def _in_thread(fn) -> tuple[threading.Thread, dict]:
    out: dict = {}

    def run() -> None:
        try:
            out["result"] = fn()
        except BaseException as exc:  # noqa: BLE001 - surface in main thread
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t, out


def _tree(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, n), root) for d, _, fs in os.walk(root) for n in fs)


def _debris(final: str) -> list[str]:
    """Lock files, their reap names and stagings left beside or in ``final``."""
    return glob.glob(f"{final}.*") + [n for n in os.listdir(final) if n.startswith("_CLAIM")]


def _plant_stale(final: str) -> None:
    """A non-empty layout without its sentinel: what publish recovers."""
    os.makedirs(final)
    with open(os.path.join(final, "part-stale.parquet"), "wb") as f:
        f.write(b"stale")


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _sleeper_holds(lock: str) -> subprocess.Popen:
    """A live process whose PID is in ``lock``: another session's holder."""
    p = subprocess.Popen(["sleep", "300"])
    with open(lock, "x") as f:
        f.write(str(p.pid))
    return p


@pytest.mark.parametrize("point", ["claim", "mid_upload", "recovery", "vacuum"])
def test_survivor_finishes_after_the_holder_is_killed(point, tmp_path, monkeypatch):
    """A holder is SIGKILLed while it holds a lock: the objectstore claim
    before any PUT or after two of them, the posix recovery lock, or the
    vacuum lock. The survivor waits while the holder lives, then finishes
    the job, leaving a solo build's layout and no lock debris."""
    objectstore = point in ("claim", "mid_upload")
    monkeypatch.setenv("DPAS_PUBLISH_MODE", "objectstore" if objectstore else "posix")
    solo = caches.materialize(str(tmp_path / "solo"), _write_layout)
    final = str(tmp_path / "layout")
    if point == "recovery":
        _plant_stale(final)
    elif point == "vacuum":
        from data_pipeline_aws_spark.streaming.jobs import _vacuum_lock

        shutil.copytree(solo, final)

    def survive():
        if point != "vacuum":
            return caches.materialize(final, _write_layout)
        with _vacuum_lock(final):
            os.unlink(os.path.join(final, "part-orphan.bin"))

    holder = _hold(point, final)
    try:
        held = _tree(final)
        t, out = _in_thread(survive)
        t.join(timeout=1.0)
        assert t.is_alive(), "the survivor went ahead while the holder was alive"
        assert _tree(final) == held
        holder.kill()  # SIGKILL
        holder.wait()
        t.join(timeout=30)
        assert not t.is_alive() and "error" not in out, out
    finally:
        holder.kill()
        holder.wait()
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    assert caches.manifest_hash(final) == caches.manifest_hash(solo)
    assert _debris(final) == []


def test_pid_lock_excludes_more_threads_than_cores(tmp_path):
    """Read-modify-write of a counter file under the lock, from twice as
    many threads as cores with a short switch interval: no update is
    lost."""
    lock, counter = str(tmp_path / "counter.lock"), tmp_path / "counter"
    counter.write_text("0")
    n_threads, rounds = 2 * (os.cpu_count() or 2), 20

    def bump() -> None:
        for _ in range(rounds):
            with caches.pid_lock(lock):
                n = int(counter.read_text())
                time.sleep(0)
                counter.write_text(str(n + 1))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=bump) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert int(counter.read_text()) == n_threads * rounds
    assert not os.path.exists(lock)


def test_pid_lock_spares_unwritten_and_successor_locks(tmp_path):
    """A lock whose PID has not landed is never reaped, and a holder's exit
    never removes a lock file that is no longer its own."""
    lock = str(tmp_path / "x.lock")
    open(lock, "w").close()  # created, PID not written yet
    with caches.pid_lock(lock, until=lambda: True) as held:
        assert not held
    assert os.path.exists(lock)
    os.unlink(lock)
    with caches.pid_lock(lock) as held:
        assert held
        os.unlink(lock)  # reaped by mistake, and a live successor holds it
        with open(lock, "x") as f:
            f.write(str(os.getppid()))
    with open(lock) as f:
        assert f.read() == str(os.getppid())


def test_objectstore_reap_puts_back_a_live_claim(tmp_path, monkeypatch):
    """ABA: a waiter reads a dead claimer's PID, but before its reap renames
    the claim, another waiter reaps that corpse and a live process claims
    the layout. The rename then takes the live claim; the waiter must put
    it back and upload nothing until the live holder's marker appears."""
    monkeypatch.setenv("DPAS_PUBLISH_MODE", "objectstore")
    final = str(tmp_path / "layout")
    claim = os.path.join(final, "_CLAIM")
    os.makedirs(final)
    with open(claim, "w") as f:
        f.write(str(_dead_pid()))
    stage = caches.staging_dir(final)
    _write_layout(stage)
    open(os.path.join(stage, "_SUCCESS"), "w").close()
    real_rename, swapped = os.rename, []

    def rename(src, dst):
        if src == claim and not swapped:
            os.unlink(claim)  # the other waiter's reap
            with open(claim, "w") as f:
                f.write(str(os.getpid()))  # the live claimer
            swapped.append(dst)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    t, out = _in_thread(lambda: caches.publish(stage, final))
    t.join(timeout=1.0)
    assert swapped, "the waiter never reaped the dead claim"
    assert t.is_alive(), "the waiter went ahead while a live process held the claim"
    assert os.listdir(final) == ["_CLAIM"]
    with open(claim) as f:
        assert f.read() == str(os.getpid())
    open(os.path.join(final, "_SUCCESS"), "w").close()  # the live holder commits
    t.join(timeout=10)
    assert not t.is_alive() and "error" not in out, out
    assert sorted(os.listdir(final)) == ["_CLAIM", "_SUCCESS"]
    assert not os.path.exists(stage)


def test_posix_recovery_loser_waits_for_the_lock_holder(tmp_path, monkeypatch):
    """While a live process holds ``{final}.lock`` over a non-empty layout
    without its sentinel, materialize does not return until the layout is
    published. A lock left by a SIGKILLed holder is reaped, and the next
    materialize publishes."""
    monkeypatch.setenv("DPAS_PUBLISH_MODE", "posix")
    solo = caches.materialize(str(tmp_path / "solo"), _write_layout)
    final = str(tmp_path / "layout")
    _plant_stale(final)
    holder = _sleeper_holds(f"{final}.lock")
    try:
        t, out = _in_thread(lambda: caches.materialize(final, _write_layout))
        t.join(timeout=1.0)
        assert t.is_alive(), "materialize returned while a live session held the recovery lock"
        open(os.path.join(final, "_SUCCESS"), "w").close()  # the holder publishes
        t.join(timeout=10)
        assert not t.is_alive() and out == {"result": final}, out
    finally:
        holder.kill()
        holder.wait()

    final = str(tmp_path / "layout2")
    _plant_stale(final)
    holder = _sleeper_holds(f"{final}.lock")
    holder.kill()  # SIGKILL: the lock stays behind
    holder.wait()
    assert os.path.exists(f"{final}.lock")
    assert caches.materialize(final, _write_layout) == final
    assert caches.manifest_hash(final) == caches.manifest_hash(solo)
    assert _debris(final) == []
