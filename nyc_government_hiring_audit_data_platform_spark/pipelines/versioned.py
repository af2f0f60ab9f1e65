"""The versioned-base protocol shared by the fuzzy-match lifecycle stores.

Three stores keep their rows as ONE immutable base directory plus
numbered generation dirs, with a JSON manifest naming the base and the
generations already folded into it:

  store            manifest                 base dirs           generations
  title index      _index_meta.json         base | base_v{n}    g{j}
  payroll corpus   _payroll_manifest.json   base | base_v{n}    d{j}
  matches corpus   _matches_manifest.json   mbase_v{n}          b{j}, p{j}

Readers take the manifest's base plus the generation dirs on disk,
minus every generation the manifest records as folded. A fold
(``operators.fuzzy.compact_persisted_title_index``,
``pipelines.hiring_audit.compact_payroll_corpus`` /
``compact_matches_corpus``) runs single-writer under the lifecycle
lease in three steps:

1. :func:`begin` - entry GC: remove every version dir the manifest does
   not name and clear the dirs of generations it records as folded,
   then name the next version (numbers only grow: they start above
   every version dir on disk, so no name - and no catalog table named
   after it - ever stands for two sets of files);
2. the caller writes base ⊎ eligible generations COMPLETELY into that
   new version dir;
3. :func:`commit` - heartbeat the lease (learning of any takeover),
   swap the manifest atomically (THE commit point), then remove the
   superseded base and clear the folded generation dirs.

A crash before the swap leaves an orphan version no reader follows; a
crash after it leaves the superseded base and folded generation dirs
that readers skip by the folded record. Either way the next
:func:`begin` removes the leftovers, and :func:`litter` reports them
in the meantime. What a cleared generation dir keeps is the store's
choice: a matches batch keeps its ``_meta.json`` (batch history), the
index and payroll generations keep nothing.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Sequence


def read_manifest(path: str, default):
    """The JSON document at ``path``, or ``default`` when absent."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one step (tmp file, then
    ``os.replace``): readers see the old content or the new, never a
    partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def generations(root: str, prefix: str) -> list[int]:
    """Sorted ids of the ``{prefix}{j}`` directories under ``root``
    (files of the same name do not count; a missing root has none)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(rf"{prefix}(\d+)", d))
        and os.path.isdir(os.path.join(root, d))
    )


def _versions(root: str, stem: str) -> dict[str, int]:
    """Version dirs under ``root``: ``{stem}`` (version 0, the
    never-folded layout) and ``{stem}_v{n}``, by name."""
    if not os.path.isdir(root):
        return {}
    return {
        d: int(m.group(1) or 0)
        for d in os.listdir(root)
        if (m := re.fullmatch(rf"{stem}(?:_v(\d+))?", d))
        and os.path.isdir(os.path.join(root, d))
    }


def litter(root: str, base: str | None, stem: str) -> list[str]:
    """Version dirs the manifest (naming ``base``) does not name: the
    leftovers of a crashed fold, removed by the next :func:`begin`."""
    return sorted(d for d in _versions(root, stem) if d != base)


def _clear(path: str, keep: str | None, ignore_errors: bool = False) -> None:
    """Remove a folded generation dir, or only its contents except the
    file ``keep``. ``ignore_errors`` - the cleanup after a commit must
    not fail a fold that already committed; the next :func:`begin`
    finishes the job (and readers skip the leftovers meanwhile)."""
    if not os.path.isdir(path):
        return
    doomed = (
        [path] if keep is None
        else [os.path.join(path, f) for f in os.listdir(path) if f != keep]
    )
    for p in doomed:
        try:
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        except OSError:
            if not ignore_errors:
                raise


def begin(
    root: str,
    base: str | None,
    stem: str,
    folded: Sequence[str] = (),
    keep: str | None = None,
) -> str:
    """Entry GC of a fold, then the name of its new version dir."""
    found = _versions(root, stem)
    for d in set(found) - {base}:
        shutil.rmtree(os.path.join(root, d))
    for d in folded:
        _clear(os.path.join(root, d), keep)
    return f"{stem}_v{max(found.values(), default=0) + 1}"


def commit(
    root: str,
    manifest_name: str,
    manifest: dict,
    old_base: str | None,
    folded: Sequence[str],
    keep: str | None = None,
    lease=None,
) -> None:
    """Publish ``manifest`` (naming the new base) and clean up what it
    supersedes: ``old_base`` and the ``folded`` generation dirs."""
    if lease is not None:
        # the base write is the long action and folds have no
        # micro-batch cadence: refresh the staleness clock (and learn
        # of any takeover) BEFORE the swap
        lease.heartbeat()
    write_atomic(os.path.join(root, manifest_name), json.dumps(manifest))
    if old_base is not None and old_base != manifest["base"]:
        shutil.rmtree(os.path.join(root, old_base), ignore_errors=True)
    for d in folded:
        _clear(os.path.join(root, d), keep, ignore_errors=True)
