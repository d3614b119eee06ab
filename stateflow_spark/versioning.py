"""Build-once publish and CURRENT-pointer resolution for the versioned
stored-index layouts.

Every stored layout (IVF index, norm-materialized corpus, MinHash
postings, span-count table, and their applied or compacted versions) is
an IMMUTABLE version directory: it is assembled in a scratch sibling,
stamped `READY_MARKER`, and appears under its final name with one atomic
os.rename — a reader sees the whole version or nothing (DEPLOY.md
"Concurrent-probe contract"). `build_once` and `publish` below are the
one implementation of that protocol; `source_key` names the nightly
versions after their source file.

What production needs on top is the cutover primitive — the pointer
probes resolve at startup, filesystem-portable and crash-safe:

- `publish_current(root, version_dir)` repoints `<root>/CURRENT` with a
  write-temp + os.replace — atomic on POSIX, so a concurrent
  `resolve_current` reads either the old or the new pointer, never a
  torn one. The version must carry its `_INDEX_READY` stamp (refused
  otherwise: an unstamped dir is a .building scratch or a partial copy).
- `resolve_current(root)` returns the pointed-at version directory and
  verifies its READY stamp. A prober resolves ONCE and holds that
  version for its lifetime (batch job or streaming query) — versions
  being immutable, a publish during the run is invisible to it; picking
  up the new version is a re-resolve (stream restart), exactly the
  round-12 soak's demonstrated posture.

On an object store replace the pointer file with the store's
conditional-put (S3 If-None-Match / GCS generation preconditions); the
version directories themselves need no changes — immutability is what
makes eventual consistency a non-issue for readers.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from typing import Callable

READY_MARKER = "_INDEX_READY"
POINTER = "CURRENT"


def source_key(path: str) -> str:
    """Version key of a layout built from the file at `path`: 12 hex of
    md5(abspath:mtime). Rewriting the source moves its mtime, so the
    next build keys a fresh version and never reads a stale one."""
    return hashlib.md5(
        f"{os.path.abspath(path)}:{os.path.getmtime(path)}".encode()
    ).hexdigest()[:12]


def is_ready(version_dir: str) -> bool:
    """True when `version_dir` is a fully-published version."""
    return os.path.exists(os.path.join(version_dir, READY_MARKER))


def publish(scratch: str, dest: str) -> str:
    """Stamp `scratch` READY and atomically rename it to `dest`; returns
    `dest`.

    The one excused failure is a concurrent publisher of the same
    version winning the rename (`dest` is already READY; by construction
    its content equals ours): the scratch is deleted and the winner's
    directory returned. Any other failure (ENOSPC, EACCES, ...) deletes
    the scratch and re-raises — the caller must never register or probe
    a location that does not exist."""
    try:
        open(os.path.join(scratch, READY_MARKER), "w").close()
        os.rename(scratch, dest)
    except BaseException as exc:
        shutil.rmtree(scratch, ignore_errors=True)
        if not (isinstance(exc, OSError) and is_ready(dest)):
            raise
    return dest


def build_once(dest: str, build: Callable[[str], object]) -> str:
    """Return `dest` if it is already published; otherwise run
    `build(scratch)` into a fresh `<dest>.building.<token>` sibling and
    `publish` it. Concurrent builders of the same `dest` each use their
    own scratch, so none can see or clobber another's half-built files.
    A failing `build` leaves no scratch behind and its exception
    propagates."""
    if is_ready(dest):
        return dest
    scratch = f"{dest}.building.{uuid.uuid4().hex[:8]}"
    try:
        build(scratch)
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    return publish(scratch, dest)


def publish_current(root: str, version_dir: str) -> str:
    """Atomically repoint `<root>/CURRENT` at `version_dir`.

    Returns the pointer path. Refuses an unstamped version: the READY
    marker is what separates a published, immutable version from a
    .building scratch."""
    version_dir = os.path.abspath(version_dir)
    if not is_ready(version_dir):
        raise ValueError(
            f"refusing to publish {version_dir}: no {READY_MARKER} stamp "
            "(not a fully-published index version)"
        )
    os.makedirs(root, exist_ok=True)
    ptr = os.path.join(root, POINTER)
    tmp = ptr + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(version_dir + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ptr)  # atomic: readers see old or new, never torn
    return ptr


def resolve_current(root: str) -> str:
    """Resolve `<root>/CURRENT` to the live version directory, verifying
    its READY stamp. Resolve once per job and hold the result — the
    version is immutable for your lifetime."""
    ptr = os.path.join(root, POINTER)
    with open(ptr) as f:
        version_dir = f.read().strip()
    if not is_ready(version_dir):
        raise ValueError(
            f"CURRENT points at {version_dir} which has no {READY_MARKER} "
            "stamp — a partial copy or a deleted version"
        )
    return version_dir
