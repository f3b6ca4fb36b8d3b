"""Cross-process layout locks — the shared flock mutex under every
commit protocol in the repo.

[absent in reference — north-star extension] The reference is a
single-process in-memory store (`SemanticDatabase.cs:42-62` holds a
``List<>`` behind one object); nothing there needs cross-process
exclusion. Here two families of on-disk layouts do:

  * the versioned table store (``sources/versioned.py``) — its pointer
    critical section (check-then-rename) was always guarded by this
    pattern; the implementation now lives here so it is reusable;
  * the served ANN index layouts (``operators/hnsw.py``,
    ``operators/similarity.py`` IVF/PQ/SQ families) — their appends are
    stateful read-modify-writes of shard/partition directories, so two
    concurrent appenders must SERIALIZE (round-11; previously documented
    single-writer).

Design: ``flock(LOCK_EX)`` on a PERSISTENT lock file (created once,
never unlinked). The kernel releases a dead holder's lock automatically,
so there is no stale-lock breaking step — and therefore none of the
break/re-acquire TOCTOU races an unlink-based protocol has (two waiters
both observing a stale file, the slower one unlinking the faster one's
FRESH lock and letting two writers into the critical section). The lock
file must never be unlinked: an unlink would let a later opener lock a
NEW inode while an existing holder still locks the old one. On an object
store, swap this for a conditional PUT / lease — callers see the same
context-manager contract.

Thread-safety: each acquisition opens its own fd (its own open file
description), so two THREADS of one process exclude each other exactly
like two processes do — the in-process stress tests exercise the same
code path production multi-writer ingest would.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import time


@contextlib.contextmanager
def flock_mutex(lock_path: str, timeout: float = 60.0):
    """Exclusive mutex on ``lock_path`` (see module docstring). Raises
    ``TimeoutError`` when the lock cannot be acquired within ``timeout``
    seconds — a holder crash never causes this (the kernel released its
    lock with the process), so a timeout means genuine sustained
    contention and should surface, not spin."""
    deadline = time.monotonic() + timeout
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire lock {lock_path} within {timeout}s"
                    )
                time.sleep(0.02)
        # diagnostic payload only — ownership is the flock, not the bytes
        os.ftruncate(fd, 0)
        os.write(fd, json.dumps({"pid": os.getpid(), "ts": time.time()}).encode())
        yield
    finally:
        with contextlib.suppress(OSError):
            fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def index_lock(path: str, timeout: float = 300.0):
    """Serialize mutations of one served-index LAYOUT (an HNSW or
    IVF/PQ/SQ directory): appends, deletes, compactions, and base
    rebuilds all take this, so concurrent maintainers apply one at a
    time against the state the previous one committed — never silently
    interleaved shard/partition rewrites (each append is a stateful
    read-modify-write, so last-writer-wins would LOSE the other
    writer's nodes).

    The lock file is a SIBLING of the layout (``<path>.__lock__``),
    never inside it: base rebuilds ``mode("overwrite")`` the directory
    and compaction swaps it aside, either of which would destroy an
    in-directory lock file's inode and let a second mutator in. The
    generous default timeout favors serializing (both writers succeed,
    one after the other) over failing; a timeout raises ``TimeoutError``
    — wrap the call in ``sources.versioned.retry_commit`` only for
    conflict-style retries, not timeouts."""
    return flock_mutex(path.rstrip("/") + ".__lock__", timeout=timeout)


def _swap_paths(path: str, tag: str) -> tuple:
    """The two siblings of a layout swap: ``<path>.__<tag>_tmp__`` holds
    the layout being written, ``<path>.__<tag>_old__`` the one moved
    aside."""
    base = path.rstrip("/")
    return f"{base}.__{tag}_tmp__", f"{base}.__{tag}_old__"


def _swap_in(path: str, tag: str, write) -> None:
    """Replace the layout at ``path`` so that a crash at any point leaves
    a complete layout on disk; the caller holds ``index_lock(path)``.
    Debris of an earlier crash goes first, ``write(tmp)`` writes the
    whole new layout into the tmp sibling (its completeness marker last),
    then two renames swap it in: the old layout aside, tmp into place.
    :func:`_recover_swap` repairs the one-rename window."""
    import shutil

    tmp, old = _swap_paths(path, tag)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    write(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_swap(path: str, tag: str, what: str, tmp_complete, old_complete) -> str:
    """Put a complete layout back at ``path`` after a crash inside
    :func:`_swap_in`, under the layout commit lock. Three states:

      * ``path`` exists: the swap never started or completed; tmp/old
        siblings are debris and go. Returns ``"ok"``.
      * ``path`` missing and ``tmp_complete(tmp)``: the crash hit between
        the renames with the new layout fully written; finish the swap
        and drop the old one. Returns ``"recovered-new"``.
      * ``path`` missing and ``old_complete(old)``: the old layout moved
        aside but the new one never landed; rename it back. Returns
        ``"recovered-old"``.

    Raises ``FileNotFoundError`` when no complete layout exists."""
    import shutil

    tmp, old = _swap_paths(path, tag)
    with index_lock(path):
        if os.path.isdir(path):
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            return "ok"
        if os.path.isdir(tmp) and tmp_complete(tmp):
            os.rename(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
            return "recovered-new"
        if os.path.isdir(old) and old_complete(old):
            os.rename(old, path)
            shutil.rmtree(tmp, ignore_errors=True)
            return "recovered-old"
        raise FileNotFoundError(
            f"no complete {what} layout found at {path} (nor in its "
            f"{tag} swap directories) — nothing to recover"
        )
