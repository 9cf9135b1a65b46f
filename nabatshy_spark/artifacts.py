"""One artifact contract for every fingerprint-keyed materialization.

A derived relation or table layout that is a deterministic function of
on-disk sources is built once per source version and every consumer
reads it (at scale the build is a scheduled job and consumers read its
output). The artifacts today: dedup's n-gram pair, curation flag,
curated pair, MinHash signature, incremental corpus index and
duplicated char-window relations; the hot-chunk set; the exact-substring
window and run relations; the entity-resolution match relations; the
trade-graph edges; the inverted-index postings; the basket supports; the
IVF / IVF+PQ vector indexes; the continuous-aggregate rollup; and the
z-order / bucketed table layouts. Callers say WHAT an artifact is; this
module decides where it lives and owns its lifecycle:

- **Key** = :func:`ensure` derives it from the source paths, the
  producer's output version and its parameters: a short sha256 over
  each source's :func:`source_fingerprint` (every data file's relative
  path, size and mtime_ns, so any rewrite of a source changes it), the
  version, and the ``repr`` of the sorted parameter items (floats keep
  every digit, so two thresholds that differ anywhere get two keys).
  The version must be bumped on any change to the producer's OUTPUT,
  or a warm root silently serves pre-change rows to every consumer.
- **Root** = ``$SPARK_GRAFT_ARTIFACT_DIR``, else
  ``<tmp>/nabatshy_artifacts_<uid>``; an artifact is always published at
  ``<root>/<family>/<key>``, so two families never share a path. Root
  and family dirs are created ``0700`` and ownership-verified before
  any read or write (a world-writable shared tempdir with predictable
  keys would let another local user pre-plant a poisoned parquet +
  ``_SUCCESS`` that every consumer silently trusts).
- **Publish** = build into a pid+nonce staging dir, verify the build
  left a ``_SUCCESS`` marker, then one atomic ``os.rename``. A reader
  can never observe a partial artifact; a lost publish race discards
  the duplicate (two builds of one key are content-identical by
  construction). A pre-existing dir at the key WITHOUT ``_SUCCESS`` is
  a crashed build's leftover: it is quarantine-renamed aside first —
  never deleted in place, because a racer may complete a valid publish
  between the check and the eviction.
- **GC** (bounds tempdir growth): on every build, sibling staging /
  quarantine dirs older than an hour and published artifacts untouched
  for :data:`DEFAULT_TTL` seconds are swept; completed artifacts are
  ``utime``-touched on every cache hit, so the TTL is time since the
  last read. Artifacts under keys no producer derives any more simply
  age out.
- **Observability**: each build this process actually published is
  recorded in :data:`BUILD_TIMES` (``"family/key" -> seconds``), which
  bench.py empties into per-artifact BUILD lines in BENCH_DETAIL.json —
  headline totals stay consumer-read-only and warm-state-independent,
  with the build cost visible instead of hidden in whichever query
  touched the cold artifact first.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Sequence

# "family/key" -> build wall seconds, for builds THIS process published.
BUILD_TIMES: dict[str, float] = {}

# Stack of child-build wall seconds for the builds currently running in
# this process: a build that calls ensure() for ANOTHER family (the
# substr/decon builds read the dup-window artifact, the curated-pairs
# build reads the curation flags) would otherwise have the child's
# seconds recorded twice — once under the child's own
# BUILD_TIMES line and once inside the parent's wall. Each frame
# accumulates the wall time of nested ensure() build paths; the parent
# records its wall MINUS that, so artifact_build_sec stays a true sum.
_ACTIVE_BUILDS: list[float] = []

_STAGING_TTL = 3600  # orphaned staging/quarantine dirs: swept after 1 h
DEFAULT_TTL = 7 * 86400  # published artifacts: swept after 7 idle days


def source_fingerprint(source_path: str) -> str:
    """Cheap content key for an on-disk parquet source: sha256 over the
    sorted (relative path, size, mtime_ns) of every data file. No data
    is read; any rewrite of the source changes the key."""
    h = hashlib.sha256(os.path.abspath(source_path).encode())
    if os.path.isdir(source_path):
        for root, _dirs, files in sorted(os.walk(source_path)):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                rel = os.path.relpath(p, source_path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        st = os.stat(source_path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def artifact_root() -> str:
    """``$SPARK_GRAFT_ARTIFACT_DIR`` (bench points it at a per-run dir
    so builds are measured, not inherited), else a per-user tempdir —
    the uid suffix plus the 0700 mode closes the pre-planted-cache hole
    on multi-user hosts. The one artifact-location setting."""
    return os.environ.get("SPARK_GRAFT_ARTIFACT_DIR") or os.path.join(
        tempfile.gettempdir(), f"nabatshy_artifacts_{os.getuid()}"
    )


def _secure_dir(path: str) -> str:
    # makedirs applies `mode` only to the LEAF dir; intermediates get
    # umask-default bits, so creating <root>/<family> in one call could
    # leave a group/world-writable root under a permissive umask —
    # another user could then rename family dirs aside (TOCTOU) even
    # though per-dir ownership checks block pre-planted contents.
    # ensure() therefore secures root and family each.
    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.stat(path)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"artifact dir {path} is owned by uid {st.st_uid}, not "
            f"{os.getuid()}: refusing to trust a cache another user "
            "controls"
        )
    # makedirs' mode applies only to NEWLY created dirs: a pre-existing
    # group/world-writable root (older code, permissive umask) would
    # re-open the pre-planted-cache hole the 0700 contract closes —
    # tighten it in place.
    if st.st_mode & 0o077:
        os.chmod(path, 0o700)
    return path


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _newest_dir_mtime(path: str) -> float:
    """Newest mtime across ``path`` and every SUBDIRECTORY (files are
    skipped — creating/renaming a file updates its parent dir's mtime,
    so directory mtimes bound file activity while keeping the walk
    cheap on staging trees with many part files)."""
    try:
        newest = os.stat(path).st_mtime
    except OSError:
        return 0.0
    for root, dirs, _files in os.walk(path):
        for d in dirs:
            try:
                newest = max(newest, os.stat(os.path.join(root, d)).st_mtime)
            except OSError:
                continue
    return newest


def _sweep(base: str, ttl: float) -> None:
    now = time.time()
    try:
        entries = os.listdir(base)
    except OSError:
        return
    for e in entries:
        p = os.path.join(base, e)
        try:
            age = now - os.stat(p).st_mtime
        except OSError:
            continue
        if ".staging-" in e or ".quarantine-" in e:
            # A LIVE build's staging dir can keep a stale top-level
            # mtime (Spark's committer writes under _temporary/
            # subtrees), and the module advertises multi-hour builds —
            # judge staleness by the newest mtime in the whole
            # directory tree, or an active build racing this sweep
            # would have its task outputs deleted and could still
            # commit a silently incomplete artifact.
            if (
                age > _STAGING_TTL
                and now - _newest_dir_mtime(p) > _STAGING_TTL
            ):
                shutil.rmtree(p, ignore_errors=True)
        elif age > ttl:
            # Same never-delete-in-place rule as _publish: a crashed
            # partial build sitting at a key path could be replaced by
            # a racer's valid quarantine-restore publish during a long
            # rmtree — rename the expired entry aside atomically
            # first, then delete the quarantined copy. The
            # ".quarantine-" name keeps a concurrent sweep's handling
            # of a leftover (if we die mid-rmtree) on the age-gated
            # staging branch above.
            quarantine = (
                f"{p}.quarantine-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            )
            try:
                os.rename(p, quarantine)
            except OSError:
                continue  # a racer republished or swept it first
            shutil.rmtree(quarantine, ignore_errors=True)


def _publish(staging: str, path: str) -> bool:
    """Atomically move ``staging`` to ``path``. Returns True when OUR
    build is the one now published; False when a racer's (content-
    identical) build won and ours was discarded."""
    try:
        os.rename(staging, path)
        return True
    except OSError:
        pass
    if _complete(path):
        shutil.rmtree(staging, ignore_errors=True)
        return False
    # `path` exists but carries no _SUCCESS: a crashed run's partial
    # build. Never rmtree it in place — a racer can complete an atomic
    # publish between the check and the eviction, and deleting a VALID
    # layout under live readers is worse than losing ours. Quarantine-
    # rename first (atomic, moves whatever is there aside whole), then
    # decide.
    quarantine = f"{path}.quarantine-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(path, quarantine)
    except OSError:
        quarantine = None  # a racer evicted or replaced it first
    if quarantine is not None and _complete(quarantine):
        # We quarantined a publish a racer completed in the window —
        # restore it and discard ours; if the restore loses to yet
        # another publish, theirs is equally valid.
        try:
            os.rename(quarantine, path)
        except OSError:
            shutil.rmtree(quarantine, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        return False
    if quarantine is not None:
        shutil.rmtree(quarantine, ignore_errors=True)
    try:
        os.rename(staging, path)
        return True
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not _complete(path):
            raise RuntimeError(
                f"artifact at {path} is incomplete (no _SUCCESS) and "
                "could not be replaced"
            )
        return False


def _key(sources: str | Sequence[str], version: int, params: dict) -> str:
    h = hashlib.sha256()
    for src in [sources] if isinstance(sources, str) else sources:
        h.update(source_fingerprint(src).encode() + b"\0")
    h.update(f"v{version}\0{sorted(params.items())!r}".encode())
    return h.hexdigest()[:16]


def ensure(
    family: str,
    sources: str | Sequence[str],
    version: int,
    params: dict,
    build: Callable[[str], None],
) -> str:
    """Idempotently materialize the ``family`` artifact derived from
    ``sources`` by producer output ``version`` with ``params``, and
    return its published path ``<root>/<family>/<key>``.

    ``params`` must hold every producer argument that can change the
    output (values with a deterministic ``repr``: numbers, strings,
    None, lists/tuples of those). ``build(staging_path)`` must write the
    complete artifact (including a ``_SUCCESS`` marker — Spark's
    parquet writer emits one) into ``staging_path``; it runs only on a
    cache miss.
    """
    key = _key(sources, version, params)
    root = _secure_dir(os.path.join(_secure_dir(artifact_root()), family))
    path = os.path.join(root, key)
    if _complete(path):
        try:
            os.utime(path)  # LRU marker: TTL is time-since-last-read
        except OSError:
            pass
        return path
    _sweep(root, DEFAULT_TTL)
    staging = f"{path}.staging-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    _ACTIVE_BUILDS.append(0.0)
    try:
        try:
            build(staging)
        except BaseException:
            # A failed builder must not leave its staging tree behind:
            # it is only swept after the 1 h staging TTL and only on a
            # later cache miss in the same family root, so repeated
            # failing builds of large artifacts (layout families are
            # full table copies) would otherwise accumulate.
            shutil.rmtree(staging, ignore_errors=True)
            raise
    finally:
        child_secs = _ACTIVE_BUILDS.pop()
        if _ACTIVE_BUILDS:
            # charge this ensure()'s full wall to the enclosing build
            _ACTIVE_BUILDS[-1] += time.perf_counter() - t0
    elapsed = round(time.perf_counter() - t0 - child_secs, 4)
    if not _complete(staging):
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"artifact build for {family}/{key} wrote no _SUCCESS marker"
        )
    if _publish(staging, path):
        BUILD_TIMES[f"{family}/{key}"] = elapsed
    return path
