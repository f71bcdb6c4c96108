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
  while in-flight `.build<pid>` stagings and `.lock` files are spared.

Writers never touch a final directory: `materialize(final, build)` runs
the build in a staging sibling and `publish`es it (atomic rename under
``posix``; claim → PUT → manifest → marker under ``objectstore``).
Readers gate on the ``_SUCCESS`` marker only."""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import tempfile
import threading


def publish_mode() -> str:
    """The active durable-artifact commit protocol.

    - ``posix`` (default): staging dir adopted via atomic ``os.rename``;
      epoch appends may hardlink history files (inode identity).
    - ``objectstore``: the S3-shaped protocol (the reference's declared
      substrate, ``lambda-stack.yml:18`` ``s3://${{ArtifactBucket}}``, has
      no atomic directory rename and no hardlinks). Publish = claim the
      layout with a conditional PUT of a zero-byte ``_CLAIM`` object
      (S3 ``If-None-Match:*`` — public AWS feature; emulated locally with
      ``O_CREAT|O_EXCL``), copy each staged file as its own atomic
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
    ``publish`` is looked up at call time, so a wrapper installed on this
    module sees every commit."""
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


def _claim_holder_alive(pid: int) -> bool:
    """Signal-0 liveness probe; EPERM counts as alive (another user's live
    process must never be reaped)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True
    return True


def _publish_objectstore(staging: str, final: str, sentinel: str) -> None:
    """S3-shaped commit (no directory rename, no links):

    1. CLAIM the layout: conditional PUT of a ``_CLAIM`` object recording
       the claimer's PID (S3 ``If-None-Match: *`` — emulated with
       O_CREAT|O_EXCL). Losers never upload a byte, so a directory
       listing can never mix two builds' uniquely-named part files —
       they instead WAIT for the winner's commit marker (content is
       deterministic: the winner publishes identical data).
    2. Write ``_MANIFEST.json`` (relpath/bytes/md5 of every data file)
       into staging so it rides the upload — readers and epoch-identity
       checks get a listing-independent description of the commit.
    3. PUT every staged file as its own atomic object, deepest-name
       order irrelevant; only the TOP-LEVEL sentinel is held back.
    4. PUT the sentinel LAST — the single-object commit marker readers
       already gate on (no read-path change vs posix mode).

    Crash recovery (round-12 verdict order #4): a claimer that dies
    mid-upload no longer strands the layout. A waiter that finds the
    claim's recorded PID dead TAKES OVER: single-winner atomic
    rename-reap of the corpse claim (the vacuum-lock pattern — exactly
    one waiter's rename succeeds), then re-race the claim; the new
    winner first DELETES every non-claim leftover object (safe: the
    marker is absent by construction on this path and readers gate on
    the marker, so nothing is mid-read) and re-uploads from its own
    staging — part-file names are build-unique, so without the sweep a
    listing reader would see two builds' files mixed. An EMPTY claim is
    a mid-write window (created, PID bytes not yet landed) and is always
    waited out, never reaped. On real S3 the same shape is a lease
    epoch in the claim key + conditional overwrite (the public
    Delta-on-S3 commit-service design); liveness here is the local
    emulation of lease expiry. A LIVE holder that never commits is
    surfaced loudly by the wait deadline."""
    import time

    done = os.path.join(final, sentinel)
    claim = os.path.join(final, "_CLAIM")
    if os.path.exists(done):
        shutil.rmtree(staging, ignore_errors=True)
        return
    os.makedirs(final, exist_ok=True)
    deadline = time.monotonic() + 300.0
    while True:
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if os.path.exists(done):
                shutil.rmtree(staging, ignore_errors=True)
                return
            try:
                with open(claim, "rb") as f:
                    holder = int(f.read().strip() or b"0")
            except (OSError, ValueError):
                continue  # claim vanished (reaped); re-race immediately
            if holder <= 0:
                # mid-write: claim created, PID not yet landed — wait
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"objectstore claim never identified its holder: {final}"
                    )
                time.sleep(0.01)
                continue
            if _claim_holder_alive(holder):
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"objectstore claim holder never committed: {final}"
                    )
                time.sleep(0.1)
                continue
            # dead claimer, no marker: single-winner takeover
            reap = f"{claim}.reap{os.getpid()}"
            try:
                os.rename(claim, reap)
            except OSError:
                continue  # another waiter reaped first; re-race
            try:
                os.unlink(reap)
            except OSError:
                pass
            continue
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        break  # claim won — we are the (possibly recovery) winner
    try:
        # recovery sweep: drop a crashed predecessor's partial upload so a
        # listing reader can never mix two builds' uniquely-named files
        # (no-op on a fresh layout: only our claim is present)
        for name in os.listdir(final):
            if name == "_CLAIM":
                continue
            p = os.path.join(final, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.unlink(p)
                except OSError:
                    pass
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
    itself never exposes that state) is cleared and the rename retried.
    Recoverers serialize on an O_EXCL lockfile and RE-CHECK the sentinel
    under the lock, so no recoverer can rmtree a layout another session
    just published (a session crashing while holding the lock leaves the
    corrupt dir in place until the next code-version move / --cold clear
    — accepted for a state normal operation cannot produce)."""
    if publish_mode() == "objectstore":
        _publish_objectstore(staging, final, sentinel)
        return
    try:
        os.rename(staging, final)
        return
    except OSError:
        pass
    if not os.path.exists(os.path.join(final, sentinel)):
        lock = f"{final}.lock"
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except OSError:  # another session is recovering; let it publish
            shutil.rmtree(staging, ignore_errors=True)
            return
        try:
            if not os.path.exists(os.path.join(final, sentinel)):
                shutil.rmtree(final, ignore_errors=True)
                try:
                    os.rename(staging, final)
                    return
                except OSError:
                    pass
        finally:
            os.close(fd)
            try:
                os.unlink(lock)
            except OSError:
                pass
    shutil.rmtree(staging, ignore_errors=True)
