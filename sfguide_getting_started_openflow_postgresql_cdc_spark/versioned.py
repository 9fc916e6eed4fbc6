"""Versioned on-disk state: the one commit protocol every state engine
uses (replica tables, MVs, the MinHash index, the curation manifest,
index-sync and streaming-dedup progress).

A store writes each new state into a ``v<N>`` directory that no reader
can see, then ``commit``s a small JSON pointer naming it. The pointer
replace is atomic and durable, so a crash at any step leaves the
previous version readable, and a retry overwrites the orphan directory
it left behind. ``retire`` then deletes what retention no longer needs,
keyed on the COMMITTED version, never on the directory listing.
Hash-bucketed stores rewrite only the buckets a change touched and
``link_unchanged`` the rest from the previous version.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Iterable


def commit(path: str, obj) -> None:
    """Atomically and durably replace ``path`` with ``obj`` as JSON:
    write a tmp file, fsync it, rename it over ``path``, fsync the
    directory so the rename itself survives a power loss."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def versions(directory: str) -> list[int]:
    """Version numbers of the ``v<N>`` directories present, oldest first."""
    if not os.path.isdir(directory):
        return []
    return sorted(
        int(n[1:]) for n in os.listdir(directory) if n.startswith("v") and n[1:].isdigit()
    )


def retire(directory: str, committed: int, keep: int) -> None:
    """Keep ``committed`` and the ``keep - 1`` highest versions below it
    (in-flight readers and time-travel targets); delete every other
    version, including orphans above ``committed`` that a crashed writer
    left. Hard links keep inodes shared with kept versions alive."""
    present = versions(directory)
    kept = {committed, *[v for v in present if v < committed][::-1][: keep - 1]}
    for v in present:
        if v not in kept:
            shutil.rmtree(os.path.join(directory, f"v{v}"), ignore_errors=True)


def link_unchanged(old: str, new: str, prefix: str, changed: Iterable[int]) -> None:
    """Hard-link every ``<prefix><bucket>`` directory of version ``old``
    whose bucket is not in ``changed`` into version ``new`` (same inode,
    zero bytes copied; a copy where the filesystem cannot link)."""
    changed = set(changed)
    for name in os.listdir(old):
        if not name.startswith(prefix) or int(name[len(prefix):]) in changed:
            continue
        src_dir, dst_dir = os.path.join(old, name), os.path.join(new, name)
        os.makedirs(dst_dir, exist_ok=True)
        for fname in os.listdir(src_dir):
            src, dst = os.path.join(src_dir, fname), os.path.join(dst_dir, fname)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
