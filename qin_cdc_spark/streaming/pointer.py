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
