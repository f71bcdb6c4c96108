"""The one cache-build protocol (`caches.materialize`) and the invariants
that keep it the only one.

The contract tests use pure-Python builds (no Spark) and run under both
publish modes: ``posix`` (rename-adopt) and ``objectstore`` (claim → PUT →
manifest → marker)."""

from __future__ import annotations

import glob
import os
import re
import tempfile
import threading

import pytest

from data_pipeline_aws_spark import caches

PKG = os.path.dirname(os.path.abspath(caches.__file__))


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


def test_one_commit_protocol_in_the_package():
    """Outside caches.py no module stages, publishes or versions a cache
    by hand: every durable cache goes through caches.materialize."""
    banned = re.compile(r"\bstaging_dir\(|\bpublish\(|def \w*_code_version\b")
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
    assert offenders == []
