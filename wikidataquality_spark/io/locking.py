"""Single seam for every check-stage-publish critical section in the repo
(r03 VERDICT #8).

Contract: `exclusive_lock` is a same-host advisory mutex; `publish_file` /
`publish_dir` are idempotent write-once publishers — stage under a
pid-suffixed temp name, then one atomic rename, with the whole
check-stage-publish sequence serialized under the lock so concurrent callers
can't each rmtree a stale partial and race the rename (one would crash, a
third reader would transiently see nothing).

Deployment note, by design: flock is SINGLE-HOST semantics — exactly right
for this sandbox and for any single-driver deployment where all publishers
share a filesystem. On an object store (S3/GCS) there is no flock and no
atomic directory rename; a production deployment swaps THIS module for one
implemented on conditional puts (S3 If-None-Match / GCS preconditions) or
delegates the transaction to an Iceberg catalog commit. Keeping every lock
call routed through here means that swap touches one file.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import stat as stat_mod
import tempfile
from collections.abc import Callable
from contextlib import contextmanager


def user_cache_root(name: str) -> str:
    """Per-uid 0o700 cache directory under TMPDIR — the ONE constructor for
    every cross-session cache root (media fixtures, IVF centroid banks).

    makedirs(mode=0o700, exist_ok=True) alone is NOT enough: mode applies
    only at creation, so an attacker who pre-creates the path world-writable
    (or symlinks it elsewhere) would silently own every cache the oracle
    gates read. The directory is therefore verified after the fact — it must
    be a real directory (not a symlink), owned by this uid, with no group/
    other write bits — and anything else fails loudly."""
    root = os.path.join(tempfile.gettempdir(), f"{name}_{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    if not stat_mod.S_ISDIR(st.st_mode):
        raise PermissionError(f"cache root {root} is not a directory (symlink squat?)")
    if st.st_uid != os.getuid():
        raise PermissionError(f"cache root {root} is owned by uid {st.st_uid}, not us")
    if st.st_mode & (stat_mod.S_IWGRP | stat_mod.S_IWOTH):
        raise PermissionError(f"cache root {root} is group/other-writable")
    return root


@contextmanager
def exclusive_lock(lock_path: str, blocking: bool = True):
    """Exclusive advisory flock held for the with-block. The lock file is
    created 0o600 (a pre-squatted file owned by another uid fails loudly at
    open() rather than silently sharing a world-writable lock).

    Yields whether the lock is held: always True when `blocking`; with
    blocking=False, False when another open of the file holds it (the
    block then runs unlocked and must not touch what the lock guards)."""
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    fd = os.open(lock_path, os.O_WRONLY | os.O_CREAT, 0o600)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB))
        except BlockingIOError:
            yield False
            return
        try:
            yield True
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def publish_file(target: str, write_fn: Callable[[str], None]) -> str:
    """Write-once single-file publish: if `target` exists it is trusted
    (rename is atomic, so existence == complete). Otherwise write_fn fills a
    pid-suffixed staging path which is renamed into place under the lock —
    a crashed writer leaves only a staging orphan, never a partial target
    (r03 ADVICE: write_pages_parquet previously wrote the final path
    directly and every consumer trusted a torn file forever)."""
    if os.path.exists(target):
        return target
    os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
    with exclusive_lock(target + ".lock"):
        if not os.path.exists(target):  # re-check under the lock
            staging = f"{target}.staging.{os.getpid()}"
            try:
                write_fn(staging)
                os.rename(staging, target)
            finally:
                if os.path.exists(staging):
                    os.remove(staging)
    return target


def publish_dir(target: str, write_fn: Callable[[str], None]) -> str:
    """Write-once directory publish. Completeness marker is _SUCCESS inside
    the directory (Spark writers emit it); a directory without it is a stale
    partial from a crashed writer and is replaced under the lock."""
    marker = os.path.join(target, "_SUCCESS")
    if os.path.exists(marker):
        return target
    os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
    with exclusive_lock(target + ".lock"):
        if not os.path.exists(marker):
            if os.path.exists(target):
                shutil.rmtree(target)
            staging = f"{target}.staging.{os.getpid()}"
            try:
                write_fn(staging)
                os.rename(staging, target)
            finally:
                if os.path.exists(staging):
                    shutil.rmtree(staging, ignore_errors=True)
    return target
