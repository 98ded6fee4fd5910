"""The one protocol that publishes on-disk state (IVF index cells,
validation sinks, the ledger) — a local-filesystem snapshot pointer.

- Layout: a published path ``<p>`` is a symlink to a sibling version
  dir ``<p>.v<N>``.
- Writing: a writer holds an exclusive, non-blocking ``flock`` on
  ``<p>.lock`` (released by the kernel if the writer crashes); a second
  writer raises ``ConcurrentWriteError``. It fills a fresh
  ``<p>.v<N+1>``, or appends in place for sink appends.
- Publishing: one ``rename`` of a fresh symlink over ``<p>``.
- Cleanup: publishing deletes every version but the new one and the
  one it supersedes (kept a cycle for readers that resolved it just
  before), so unpublished versions of failed writers are swept too.
- Reading: resolve ``<p>`` once and read only that version dir.
"""

from __future__ import annotations

import fcntl
import os
import shutil
from contextlib import contextmanager


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the lock of the path being written."""


@contextmanager
def lock(path: str, wait: bool = False):
    """Hold ``path``'s writer lock; ``wait=True`` blocks until the
    holder is done instead of raising ``ConcurrentWriteError``."""
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    fd = os.open(f"{path}.lock", os.O_RDWR | os.O_CREAT, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if wait else fcntl.LOCK_NB))
        except BlockingIOError:
            raise ConcurrentWriteError(f"{path} has another writer") from None
        yield
    finally:
        os.close(fd)  # releases the flock


def published(path: str) -> bool:
    return os.path.islink(path)


def resolve(path: str) -> str:
    """The version dir ``path`` publishes now."""
    real = os.path.realpath(path)
    if not os.path.isdir(real):
        raise FileNotFoundError(f"{path}: no published version")
    return real


def _versions(path: str) -> dict[int, str]:
    parent, base = os.path.split(os.path.abspath(path))
    return {
        int(name[len(base) + 2:]): os.path.join(parent, name)
        for name in os.listdir(parent)
        if name.startswith(f"{base}.v") and name[len(base) + 2:].isdigit()
    }


def _next_version(path: str) -> str:
    return f"{os.path.abspath(path)}.v{max(_versions(path), default=0) + 1}"


@contextmanager
def new_version(path: str):
    """Hold ``path``'s writer lock; yield its next version dir to fill
    and ``publish``."""
    with lock(path):
        yield _next_version(path)


def publish(path: str, version: str) -> None:
    """Point ``path`` at ``version`` atomically, then sweep every other
    version but the superseded one. Call with the writer lock held."""
    keep = {os.path.basename(version)}
    if published(path):
        keep.add(os.readlink(path))
    tmp = f"{path}.publish"
    if os.path.lexists(tmp):  # left by a writer that died mid-publish
        os.remove(tmp)
    os.symlink(os.path.basename(version), tmp)
    os.replace(tmp, path)
    for v in _versions(path).values():
        if os.path.basename(v) not in keep:
            shutil.rmtree(v)


@contextmanager
def appending(path: str):
    """Hold ``path``'s writer lock; yield the published version to
    append to, or a fresh one published when the block completes."""
    with lock(path):
        if os.path.lexists(path):
            yield resolve(path)
            return
        version = _next_version(path)
        yield version
        publish(path, version)


def write_file(path: str, text: str) -> None:
    """Replace file ``path`` atomically (write a sibling, rename over)."""
    with open(f"{path}.tmp", "w") as f:
        f.write(text)
    os.replace(f"{path}.tmp", path)
