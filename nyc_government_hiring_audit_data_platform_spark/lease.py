"""Mechanical single-writer enforcement for the fuzzy-match lifecycle.

Every crash-safety proof in ``pipelines.hiring_audit``'s ingest /
maintenance / compaction machinery conditions on single-writer
execution (the runbook at the EP2a section header) - and concurrent
weekly crons are exactly the violation production produces. The lease
turns the docstring rule into a mechanism (round-12 VERDICT ask #2):

- ONE lease file (``_lifecycle_lease.json``) per lifecycle deployment,
  living in the index dir - the hub every step's bookkeeping reads;
- acquisition is an atomic ``os.link`` of a fully-written claim file
  (never a partially-written lease on disk); a live holder makes every
  other entry point REFUSE loudly (:class:`LeaseHeldError`);
- liveness is the file's mtime: holders heartbeat per micro-batch, and
  a lease older than ``stale_after`` is TAKEN OVER (under an exclusive
  ``.takeover.lock`` file, rename-then-remove, so exactly one contender
  wins the race) - a crashed writer never wedges the cadence;
- a holder that lost its lease to a takeover finds out at the next
  heartbeat or at release and raises :class:`LeaseLostError` - the
  signal that ``stale_after`` was sized below a real batch duration.

Residual windows (documented, standard for file leases; each a few
syscalls wide and only reachable when a holder is ALREADY past
``stale_after``, i.e. misconfigured): (a) between a releasing owner's
read-verify and its ``os.remove``, a takeover could slip in and lose
the new holder's lease file; (b) a takeover that renamed away a
just-refreshed lease restores it via a link that refuses to clobber -
if a third contender claimed in that gap, the deposed holder learns at
its next heartbeat. A contender killed while holding the takeover lock
makes stale-lease contenders refuse until the entry sweep clears the
lock, ``stale_after`` later. Size ``stale_after`` above the longest interval
between heartbeats: the sinks heartbeat per micro-batch, the
compaction steps once per fold (after materializing, before their
commit swaps) - so above the longest batch OR fold, whichever is
longer. The 3600 s default fits the reference's weekly cadence
(src/fuzzy_flows.py:16-23).

The underscore prefix keeps the lease file invisible to Spark's file
listings (parquet readers skip ``_``/``.`` paths), so it can live in
the index dir of any layout, including the legacy root-parquet one.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

_LEASE = "_lifecycle_lease.json"


class LeaseHeldError(RuntimeError):
    """Another lifecycle step holds the lease and is not stale."""


class LeaseLostError(RuntimeError):
    """This holder's lease was taken over (stale_after elapsed between
    heartbeats) - stop writing; the takeover now owns the lifecycle."""


class Lease:
    """A held lifecycle lease. ``heartbeat()`` from long-running steps
    (the sinks call it per micro-batch); released by the
    :func:`lifecycle_lease` context manager."""

    def __init__(self, path: str, owner: str, step: str) -> None:
        self.path = path
        self.owner = owner
        self.step = step

    def _holder(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def heartbeat(self) -> None:
        """Refresh the staleness clock; raise :class:`LeaseLostError`
        the moment a takeover is visible (a deposed writer must stop
        before its next write, not after)."""
        held = self._holder()
        if held is None or held.get("owner") != self.owner:
            raise LeaseLostError(
                f"lifecycle lease at {self.path} was taken over by "
                f"{held and held.get('step')!r} while {self.step!r} ran - "
                "stale_after is sized below a real batch duration; stop "
                "and re-run"
            )
        try:
            os.utime(self.path)
        except OSError:
            # a takeover renamed the file between the holder check and
            # the touch: same diagnosis, same designed error - never a
            # bare FileNotFoundError out of a sink's foreachBatch
            raise LeaseLostError(
                f"lifecycle lease at {self.path} was taken over while "
                f"{self.step!r} ran - stale_after is sized below a real "
                "batch duration; stop and re-run"
            )

    def release(self, raise_on_lost: bool = True) -> bool:
        held = self._holder()
        if held is not None and held.get("owner") == self.owner:
            try:
                os.remove(self.path)
                return True
            except FileNotFoundError:
                # a takeover renamed the file between the read-verify
                # and the remove: same diagnosis as heartbeat's race -
                # the designed error, never a bare FileNotFoundError
                # (which would also mask an in-flight batch exception
                # in lifecycle_lease's except-branch release)
                held = None
        if raise_on_lost:
            raise LeaseLostError(
                f"lifecycle lease at {self.path} was taken over by "
                f"{held and held.get('step')!r} while {self.step!r} ran - "
                "its writes may interleave with this step's tail; verify "
                "the corpus and size stale_after above the batch duration"
            )
        return False


def _acquire(lease_dir: str, step: str, stale_after: float) -> Lease:
    os.makedirs(lease_dir, exist_ok=True)
    path = os.path.join(lease_dir, _LEASE)
    # crash-litter sweep: a contender hard-killed between its takeover
    # rename and the remove (or between claim write and unlink) strands
    # `.takeover.*` / `.claim.*` files no other path reclaims. Claim
    # files are written syscalls before use, so a stale one is dead; a
    # takeover file INHERITS the stale lease's old mtime (rename
    # preserves it), so this sweep can hit a peer's in-flight takeover
    # - which is safe: the takeover path tolerates its file vanishing
    # at every step (guards below) and simply re-contends, and the
    # swept content was the dead holder's, worth nothing.
    for fn in os.listdir(lease_dir):
        if fn.startswith(_LEASE + ".takeover.") or fn.startswith(
            _LEASE + ".claim."
        ):
            p = os.path.join(lease_dir, fn)
            try:
                if time.time() - os.path.getmtime(p) > stale_after:
                    os.remove(p)
            except OSError:
                pass
    owner = uuid.uuid4().hex
    claim = path + f".claim.{owner}"
    lock = path + ".takeover.lock"
    with open(claim, "w") as f:
        json.dump({"owner": owner, "step": step, "pid": os.getpid()}, f)
    try:
        while True:
            try:
                os.link(claim, path)  # atomic claim, content complete
                return Lease(path, owner, step)
            except FileExistsError:
                pass
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:
                continue  # racing a release/takeover: retry the claim
            if age <= stale_after:
                _refuse(path, age, stale_after, takeover=False)
            # one takeover at a time: without the lock, a contender that
            # judged the OLD incarnation stale could rename away the
            # fresh lease a peer's takeover just linked, and a third
            # contender could claim the gap before the restore - two
            # holders. A peer already taking over means this contender
            # would lose the race anyway: refuse like any live holder.
            try:
                os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                _refuse(path, age, stale_after, takeover=True)
            try:
                _take_over(path, path + f".takeover.{owner}", stale_after)
            finally:
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass
    finally:
        try:
            os.remove(claim)
        except FileNotFoundError:
            pass


def _refuse(path: str, age: float, stale_after: float, takeover: bool):
    held = None if takeover else Lease(path, "", "")._holder()
    who = (
        "a peer's stale-lease takeover"
        if takeover
        else (held or {}).get("step", "an unreadable holder")
    )
    raise LeaseHeldError(
        f"the lifecycle lease at {path} is held by {who!r} "
        f"(pid {(held or {}).get('pid')}, heartbeat "
        f"{age:.0f}s ago, stale_after={stale_after:.0f}s): the "
        "ingest/maintenance/compaction steps are single-writer "
        "- wait for it to finish, or raise stale_after only "
        "if you are SURE the holder is dead"
    )


def _take_over(path: str, stale: str, stale_after: float) -> None:
    """Remove the stale lease at ``path`` (caller holds the takeover
    lock); the caller then re-contends for the freed path."""
    # re-judge under the lock: a peer's takeover may have completed
    # (and a new holder linked a fresh lease) since this contender's
    # age check
    try:
        if time.time() - os.path.getmtime(path) <= stale_after:
            return
    except OSError:
        return  # released meanwhile: re-contend
    try:
        os.rename(path, stale)
    except FileNotFoundError:
        return  # released meanwhile: re-contend fresh
    # verify the rename grabbed a STALE incarnation: between the age
    # check and the rename the holder could heartbeat, or release and a
    # new holder acquire - either way the file would carry a FRESH mtime
    # (a re-acquire links a claim written syscalls ago), so mtime alone
    # decides. Content is deliberately NOT consulted: an
    # unreadable-but-stale lease (torn external write) must still be
    # taken over, never restored in a spin (review r13, pass 2).
    try:
        renamed_age = time.time() - os.path.getmtime(stale)
    except OSError:
        return  # a peer's litter sweep removed it: re-contend
    if renamed_age <= stale_after:
        # deposed a live holder: restore, but NEVER by clobbering a
        # third contender that claimed the freed path meanwhile (link
        # refuses; in that residual few-syscall window the deposed
        # holder still sees LeaseLostError at its next heartbeat - the
        # documented file-lease residue)
        try:
            os.link(stale, path)
        except (FileExistsError, FileNotFoundError):
            pass  # FileNotFoundError: sweep race, nothing to restore
    try:
        os.remove(stale)  # verified-stale: this contender freed it
    except FileNotFoundError:
        pass  # a peer's sweep finished it; same outcome


@contextmanager
def lifecycle_lease(lease_dir: str, step: str, stale_after: float = 3600.0):
    """Acquire the single-writer lifecycle lease at ``lease_dir`` for
    the duration of the block. Refuses (:class:`LeaseHeldError`) when a
    live holder exists; takes over a stale one. Yields the
    :class:`Lease` so long-running steps can ``heartbeat()``; raises
    :class:`LeaseLostError` at exit if the lease was taken over
    mid-run (the work already on disk is NOT rolled back - the error
    is the operator's signal to verify and re-size ``stale_after``)."""
    lease = _acquire(lease_dir, step, stale_after)
    try:
        yield lease
    except BaseException:
        lease.release(raise_on_lost=False)
        raise
    else:
        lease.release(raise_on_lost=True)
