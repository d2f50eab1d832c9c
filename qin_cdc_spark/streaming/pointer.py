"""The JSON pointer-file protocol every store commits through.

A store that commits a position next to its data keeps its data in
immutable, uniquely named directories and names the live ones in one
small JSON file (the pointer).  A commit is three steps, always in this
order:

1. write the new data dirs (invisible: nothing points at them yet);
2. ``publish`` the new pointer — a tmp file in the same directory and
   one atomic ``os.replace``, so a reader sees the old pointer or the
   new one, never a torn one;
3. ``sweep`` the data dirs the new pointer no longer names (superseded
   state and orphans of earlier crashed commits).

A crash before step 2 leaves the previous pointer and its dirs intact;
the replayed commit writes fresh dirs and the next successful sweep
reclaims the orphans.  A crash during step 3 only delays reclamation.

A store whose live data sits at a fixed directory name (the flat LWW
table, a DLQ, an index partition) commits by directory swap instead:
``swap`` renames the live dir aside to ``<live>.old-<hex>``, renames the
staged dir into its place, then deletes the old copy.  A crash between
the two renames leaves only the ``.old-*`` copy; ``recover``, called
before the next read or rewrite, puts it back, and deletes the
``.old-*`` copies a completed swap did not get to clean up.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Collection


def load(path: str, name: str, default):
    """The pointer ``path/name`` as JSON, or ``default`` when absent."""
    try:
        with open(os.path.join(path, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def publish(path: str, name: str, meta) -> None:
    """Atomically replace the pointer ``path/name`` with ``meta``."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(path, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def sweep(path: str, prefixes: str | tuple[str, ...], live: Collection[str]) -> None:
    """Delete the data dirs under ``path`` whose names start with one of
    ``prefixes`` and that are not in ``live``."""
    for d in os.listdir(path):
        if d.startswith(prefixes) and d not in live:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


_OLD = ".old-"


def swap(stage: str, live: str) -> None:
    """Replace the dir ``live`` with the dir ``stage``; a missing
    ``stage`` leaves ``live`` absent (an emptied partition)."""
    old = f"{live}{_OLD}{uuid.uuid4().hex[:8]}"
    if os.path.exists(live):
        os.rename(live, old)
    if os.path.exists(stage):
        os.rename(stage, live)
    shutil.rmtree(old, ignore_errors=True)


def recover(live: str) -> None:
    """Repair what a crashed ``swap`` left of ``live`` and of each
    child dir of ``live``: an ``.old-*`` copy whose live dir is missing
    is restored, one whose live dir exists is deleted.  Filesystem only."""
    live = live.rstrip("/")
    parent = os.path.dirname(live) or "."
    if os.path.isdir(parent):
        _restore(parent, os.path.basename(live))
    if os.path.isdir(live):
        _restore(live, None)


def _restore(path: str, only: str | None) -> None:
    for d in sorted(os.listdir(path), reverse=True):
        base, sep, _ = d.partition(_OLD)
        if not sep or (only is not None and base != only):
            continue
        src, dst = os.path.join(path, d), os.path.join(path, base)
        if os.path.exists(dst):
            shutil.rmtree(src, ignore_errors=True)  # the swap completed
        else:
            os.rename(src, dst)  # the swap died between its renames
