"""Versioned tempdir caches: the one naming scheme, eviction policy and
commit protocol for every durable artifact the engine materializes
(landed sink layouts, persisted indexes, ingest fixtures, race layouts).

    {tempdir}/dpas_{kind}_{md5(sf_dir)[:10]}_{version}

- the sf_dir tag keeps scale factors apart AND lets `bench.py --cold`'s
  tag-scoped clear find every cache belonging to the active SF;
- the version token is the md5 of the OWNING module plus tables.py and
  session.py (the read-path modules that shape cache contents), so an
  artifact written by older code can never satisfy a newer read path;
- siblings minted by other code versions are evicted on access (each
  revision would otherwise strand a full copy of the fixture in tempdir),
  while in-flight `.build<pid>-<tid>` stagings and `.lock` files are
  spared.

Writers never touch a final directory: `materialize(final, build)` runs
the build in a staging sibling and `publish`es it (atomic rename under
``posix``; claim → PUT → manifest → marker under ``objectstore``).
Readers gate on the ``_SUCCESS`` marker only.

Every cross-process lock is a `pid_lock`: a file created with
``O_CREAT|O_EXCL`` that holds its holder's PID. A waiter never steals the
lock of a live holder, nor of one whose PID bytes have not landed yet; it
reaps a dead holder's lock with a rename that only one waiter can win,
and puts back a live lock that such a rename took by mistake. A holder
removes the lock only while it is still its own inode. The objectstore
claim, the posix recovery lock, the vacuum lock and the class-archive
recording lock are all this one primitive, so a process killed while
holding any of them blocks nobody for longer than its death takes to be
seen."""

from __future__ import annotations

import contextlib
import functools
import glob
import hashlib
import json
import os
import shutil
import tempfile
import threading
import time


def publish_mode() -> str:
    """The active durable-artifact commit protocol.

    - ``posix`` (default): staging dir adopted via atomic ``os.rename``;
      epoch appends may hardlink history files (inode identity).
    - ``objectstore``: the S3-shaped protocol (the reference's declared
      substrate, ``lambda-stack.yml:18`` ``s3://${{ArtifactBucket}}``, has
      no atomic directory rename and no hardlinks). Publish = claim the
      layout with a conditional PUT of a ``_CLAIM`` object (S3
      ``If-None-Match:*`` — public AWS feature; emulated locally by a
      `pid_lock`), copy each staged file as its own atomic
      single-object PUT, write a content manifest, then PUT the
      ``_SUCCESS`` commit marker LAST. Readers gate on the marker exactly
      as in posix mode, so no read path changes. Epoch appends
      copy-forward instead of hardlinking; identity is asserted by
      manifest content-hash instead of inodes.
    """
    return os.environ.get("DPAS_PUBLISH_MODE", "posix")


MANIFEST_NAME = "_MANIFEST.json"


def content_manifest(root: str) -> list[dict]:
    """Sorted (relpath, bytes, md5) triples for every DATA file under
    ``root`` — dot/underscore names (commit markers, the manifest itself,
    checksum sidecars: exactly Spark's own data-file filter) excluded.
    This is the objectstore mode's identity primitive: two layouts with
    equal manifests hold byte-identical data regardless of inode
    history."""
    entries: list[dict] = []
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            path = os.path.join(dirpath, name)
            h = hashlib.md5()
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            entries.append(
                {
                    "path": os.path.relpath(path, root),
                    "bytes": os.path.getsize(path),
                    "md5": h.hexdigest(),
                }
            )
    return sorted(entries, key=lambda e: e["path"])


def manifest_hash(root: str) -> str:
    """md5 over the canonical JSON of ``content_manifest(root)``."""
    blob = json.dumps(content_manifest(root), sort_keys=True).encode()
    return hashlib.md5(blob).hexdigest()


@functools.lru_cache(maxsize=None)
def _module_version(module_file: str) -> str:
    """md5 over the owning module + tables.py + session.py — computed once
    per process per module, and only when a cache path is resolved (never
    at import: executors import modules from the shipped package zip, where
    ``open(module_file)`` fails)."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    for path in (module_file, os.path.join(pkg, "tables.py"), os.path.join(pkg, "session.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:8]


def sf_tag(sf_dir: str) -> str:
    """The 10-hex sf_dir tag embedded in every cache dir name — exported so
    bench.py's --cold tag-scoped clear derives it from the SAME definition
    (a drifting tag would silently turn 'cold' runs into warm read-backs)."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:10]


def versioned_cache_dir(kind: str, sf_dir: str, module_file: str) -> str:
    """Resolve (and create) the cache dir for ``kind`` at ``sf_dir`` as
    versioned by ``module_file``'s code; evict other-version siblings.
    Same-version names (including in-flight `.build<pid>` staging siblings
    of concurrent sessions) are spared — evicting those would delete
    another live session's work mid-build.

    Non-posix publish modes get their own namespace (``{kind}.{mode}``):
    a layout committed under one protocol must never satisfy a read under
    the other (posix rename-adopted dirs carry no manifest; objectstore
    layouts carry loser-orphan semantics posix readers don't expect).
    The tag still appears after the kind, so bench --cold's tag-scoped
    clear reaps both namespaces."""
    mode = publish_mode()
    if mode != "posix":
        kind = f"{kind}.{mode}"
    ver = _module_version(module_file)
    prefix = os.path.join(tempfile.gettempdir(), f"dpas_{kind}_{sf_tag(sf_dir)}")
    parent, base = tempfile.gettempdir(), os.path.basename(prefix)
    try:
        for name in os.listdir(parent):
            # spare ANY .build staging (a live session on a different code
            # version may be mid-drain; deleting its staging kills its
            # write tasks) — orphaned stagings from crashes are reaped by
            # bench --cold's tag-scoped clear instead
            if (
                name.startswith(base + "_")
                and not name.startswith(f"{base}_{ver}")
                and ".build" not in name
                and ".lock" not in name
            ):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    except OSError:
        pass
    path = f"{prefix}_{ver}"
    os.makedirs(path, exist_ok=True)
    return path


def _alive(pid: int) -> bool:
    """Signal-0 liveness probe; EPERM counts as alive (another user's live
    process must never be reaped)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True
    return True


def _holder(path: str) -> int | None:
    """The PID in lock file ``path``: 0 while its creator has not written
    it yet, None once the file is gone."""
    try:
        with open(path, "rb") as f:
            return int(f.read().strip() or b"0")
    except FileNotFoundError:
        return None
    except ValueError:
        return 0


def _reap(path: str, holder: int) -> None:
    """Remove the lock at ``path`` of the dead ``holder``. Only one waiter's
    rename can take the file. If what it took is not the dead holder's lock
    but a fresh one, created after ``holder`` was read (ABA), it is linked
    back, unless a third process has taken the lock in the meantime."""
    reap = f"{path}.reap{os.getpid()}-{threading.get_ident()}"
    try:
        os.rename(path, reap)
    except FileNotFoundError:
        return  # another waiter reaped it
    if _holder(reap) != holder:
        with contextlib.suppress(OSError):
            os.link(reap, path)
    with contextlib.suppress(FileNotFoundError):
        os.unlink(reap)


# How long a `pid_lock` waiter waits out a live holder before it raises.
LOCK_WAIT_S = 300.0


@contextlib.contextmanager
def pid_lock(path: str, *, until=None):
    """Hold the lock file ``path`` for the ``with`` block; yields True.

    The lock is taken with ``O_CREAT|O_EXCL`` and records this process's
    PID. A lock whose holder is alive, or whose PID is not written yet, is
    waited out; a dead holder's lock is reaped (`_reap`). While waiting,
    ``until()`` is asked every poll: once it is true the block runs without
    the lock and the context yields False (``until=lambda: True`` never
    waits). A holder that outlasts `LOCK_WAIT_S` raises TimeoutError. On
    exit the lock is removed only if the file at ``path``
    is still the one this call created."""
    deadline = time.monotonic() + LOCK_WAIT_S
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            pass
        holder = _holder(path)
        if holder is None:
            continue  # released: race again
        if holder and not _alive(holder):
            _reap(path, holder)
            continue
        if until is not None and until():
            yield False
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"lock held for over {LOCK_WAIT_S:.0f} s by pid {holder or '(unwritten)'}: {path}")
        time.sleep(0.05)
    try:
        os.write(fd, str(os.getpid()).encode())
        yield True
    finally:
        with contextlib.suppress(FileNotFoundError):
            if os.stat(path).st_ino == os.fstat(fd).st_ino:
                os.unlink(path)
        os.close(fd)


def _reap_stagings(final: str) -> None:
    """Delete the stagings of ``final`` left by dead processes."""
    for path in glob.glob(f"{glob.escape(final)}.build*"):
        pid = path[len(final) + len(".build") :].partition("-")[0]
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(path, ignore_errors=True)


def staging_dir(final: str) -> str:
    """Fresh per-thread staging sibling for an atomic publish into
    ``final`` — build the whole layout here, then `publish()` it. Never
    write into ``final`` directly: a second session could observe (or
    self-heal away) the half-built state. The name carries the thread id
    as well as the PID, so two threads of one driver racing the same
    layout never wipe each other's staging."""
    path = f"{final}.build{os.getpid()}-{threading.get_ident()}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def materialize(final: str, build) -> str:
    """Build the cache layout at ``final`` once and return ``final``.

    If ``final/_SUCCESS`` exists the layout is already committed and
    ``build`` is not called. Otherwise ``build(stage)`` writes the whole
    layout into a fresh `staging_dir`; ``_SUCCESS`` is added if the build
    did not write one, and the stage is `publish`ed. A build that raises
    leaves nothing behind: the stage is removed and the error re-raised.
    After a publish, the stagings of ``final`` whose process died are
    deleted. ``publish`` is looked up at call time, so a wrapper installed
    on this module sees every commit."""
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    stage = staging_dir(final)
    try:
        build(stage)
        marker = os.path.join(stage, "_SUCCESS")
        if not os.path.exists(marker):
            open(marker, "w").close()
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    publish(stage, final)
    _reap_stagings(final)
    return final


def link_or_copy(src: str, dst: str) -> None:
    """The epoch-append primitive: adopt an existing history file into a
    new layout WITHOUT recomputing it. posix → hardlink (O(1) metadata,
    inode-shared — the strongest possible never-rewritten proof);
    objectstore → byte copy-forward (object stores have no links; the
    never-rewritten proof is then ``content_manifest`` equality). The
    posix path keeps its cross-device copy fallback — the bytes contract
    holds either way."""
    if publish_mode() != "objectstore":
        try:
            os.link(src, dst)
            return
        except OSError:
            pass
    shutil.copy2(src, dst)


def _put_object(src: str | None, dst: str) -> None:
    """One atomic single-object PUT (the only atomicity an object store
    offers). Local emulation: write a dot-prefixed temp sibling (invisible
    to Spark's data-file filter) and rename it into the key — readers see
    the whole object or nothing, exactly S3's contract. ``src=None`` PUTs
    an empty object (marker)."""
    d, name = os.path.split(dst)
    tmp = os.path.join(d, f".put{os.getpid()}-{name}")
    if src is None:
        with open(tmp, "wb"):
            pass
    else:
        shutil.copy2(src, tmp)
    os.rename(tmp, dst)


def _publish_objectstore(staging: str, final: str, sentinel: str) -> None:
    """S3-shaped commit (no directory rename, no links):

    1. CLAIM the layout: the `pid_lock` ``_CLAIM`` object (S3
       ``If-None-Match: *``). Losers never upload a byte, so a directory
       listing can never mix two builds' uniquely-named part files; they
       wait for the winner's commit marker instead (content is
       deterministic: the winner publishes identical data).
    2. Re-check the marker under the claim, then DELETE every other
       object: a dead claimer's partial upload (no-op on a fresh layout).
    3. Write ``_MANIFEST.json`` (relpath/bytes/md5 of every data file)
       into staging so it rides the upload.
    4. PUT every staged file as its own atomic object, holding back only
       the TOP-LEVEL sentinel, then PUT the sentinel LAST: the
       single-object commit marker readers already gate on.

    On real S3 the claim is a lease epoch in the claim key plus a
    conditional overwrite (the public Delta-on-S3 commit-service design);
    the holder's liveness is the local stand-in for lease expiry."""
    done = os.path.join(final, sentinel)
    try:
        if os.path.exists(done):
            return
        os.makedirs(final, exist_ok=True)
        with pid_lock(os.path.join(final, "_CLAIM"), until=lambda: os.path.exists(done)) as held:
            if not held or os.path.exists(done):
                return
            for name in os.listdir(final):
                if name.startswith("_CLAIM"):  # the claim and waiters' reaps
                    continue
                p = os.path.join(final, name)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(p)
            manifest = content_manifest(staging)
            with open(os.path.join(staging, MANIFEST_NAME), "w") as f:
                json.dump(manifest, f, sort_keys=True)
            sentinel_src = None
            for dirpath, dirnames, files in os.walk(staging):
                dirnames.sort()
                rel = os.path.relpath(dirpath, staging)
                dst_dir = final if rel == "." else os.path.join(final, rel)
                os.makedirs(dst_dir, exist_ok=True)
                for name in sorted(files):
                    src = os.path.join(dirpath, name)
                    if rel == "." and name == sentinel:
                        sentinel_src = src  # commit marker is PUT last
                        continue
                    _put_object(src, os.path.join(dst_dir, name))
            _put_object(sentinel_src, done)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def publish(staging: str, final: str, sentinel: str = "_SUCCESS") -> None:
    """Atomically adopt ``staging`` as ``final`` via rename. If another
    session already published a complete layout (sentinel present), the
    local build is discarded — content is deterministic, so either
    winner serves identical data. Under ``DPAS_PUBLISH_MODE=objectstore``
    the rename protocol is replaced wholesale by the S3-shaped
    claim/PUT/manifest/marker commit (see ``_publish_objectstore``).

    Recovery: a non-empty ``final`` WITHOUT the sentinel (a pre-staging
    writer's leftovers or a manually corrupted dir — the staging protocol
    itself never exposes that state) is cleared and the rename retried
    under the `pid_lock` ``{final}.lock``, re-checking the sentinel once
    the lock is held. A session that loses that race waits until the
    layout is published, or takes over the lock once its holder dies."""
    if publish_mode() == "objectstore":
        _publish_objectstore(staging, final, sentinel)
        return
    try:
        os.rename(staging, final)
        return
    except OSError:
        pass
    done = os.path.join(final, sentinel)
    if not os.path.exists(done):
        with pid_lock(f"{final}.lock", until=lambda: os.path.exists(done)) as held:
            if held and not os.path.exists(done):
                shutil.rmtree(final, ignore_errors=True)
                with contextlib.suppress(OSError):  # another session's rename won
                    os.rename(staging, final)
                    return
    shutil.rmtree(staging, ignore_errors=True)
