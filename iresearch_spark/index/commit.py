"""The commit of every index writer: the only code that reads or writes
``meta.json`` and the only code that picks a generation number.

A writer based on committed generation g (0: none) claims ``gen=<g+1>/`` for
its lifetime with an exclusive ``flock`` on a file inside it, writes its
tables there, and publishes by ``os.replace`` of a meta staged in that
directory (index_writer.cpp:2606-2718 ``pending_segments_<gen>`` →
``segments_<gen>``). A stale base or another live writer raises
:class:`CommitConflict` before the writer writes anything. The OS drops the
lock when its process dies, so a crashed writer's successor resumes in the
same directory. Scope: one local filesystem, one live writer per index.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os


class CommitConflict(RuntimeError):
    """The generation a writer's work was based on is no longer the committed
    one, or another live writer holds the generation it would commit."""


def read_meta(index_path: str) -> dict | None:
    """The committed meta of the index, or None when nothing is committed."""
    try:
        with open(os.path.join(index_path, "meta.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _check_base(index_path: str, base_gen: int) -> None:
    meta = read_meta(index_path)
    now = meta["generation"] if meta is not None else 0
    if now != base_gen:
        raise CommitConflict(
            f"{index_path}: work based on generation {base_gen}, but generation "
            f"{now} is committed; reopen the reader and retry"
        )


class Claim:
    """A writer's hold on generation ``gen``: its tables go under ``dir``."""

    def __init__(self, index_path: str, gen: int):
        self.index_path = index_path
        self.gen = gen
        self.dir = os.path.join(index_path, f"gen={gen}")

    def publish(self, meta: dict) -> dict:
        """Commit ``meta`` as generation :attr:`gen`: stage it in the claimed
        directory, make it durable, rename it over ``meta.json``."""
        meta["generation"] = self.gen
        staged = os.path.join(self.dir, "_meta.json")
        with open(staged, "w") as f:
            json.dump(meta, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(staged, os.path.join(self.index_path, "meta.json"))
        return meta


@contextlib.contextmanager
def claim(index_path: str, base_gen: int):
    """Claim generation ``base_gen + 1`` for the ``with`` block; yields a
    :class:`Claim`. Raises :class:`CommitConflict` when ``base_gen`` is not
    the committed generation or another writer holds the claim."""
    _check_base(index_path, base_gen)
    c = Claim(index_path, base_gen + 1)
    os.makedirs(c.dir, exist_ok=True)
    fd = os.open(os.path.join(c.dir, "_claim.lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise CommitConflict(f"another writer holds {c.dir}") from None
        _check_base(index_path, base_gen)  # a commit between the check and the lock
        yield c
    finally:
        os.close(fd)
