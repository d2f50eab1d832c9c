"""Shared rename planner for the store-layer ``rename_columns``
implementations (BucketedUpsertTable / VersionedBucketedTable — the
SCD2 and partitioned stores delegate to the versioned one), the
derived-view state rewrites, and every frame-level rename alignment
(decode segments, CDF boundary alignment).

The upstream contract (reference: ``metas/mysql_ddl_parse.go`` applies
ALTER ops sequentially against the evolving Table struct) allows DDL
sequences the round-9 snapshot validation rejected (ADVICE r9) — and
one more the round-10 property test surfaced:

* retype-only ``CHANGE COLUMN a a bigint`` — MySQL's standard retype
  idiom parses with ``new_name == column``; an identity entry must be
  a NO-OP, not a "target already exists" crash;
* ``ADD COLUMN x`` then ``RENAME x TO y`` before any merge
  materialized ``x`` — the store holds NEITHER name; the decode schema
  already evolved, so the merge lands the data under the new name and
  the store-side rename must SKIP, not raise;
* freed-name reuse ``RENAME a TO b; RENAME c TO a`` — sequentially
  legal upstream, but invalid when validated against the pre-rename
  column snapshot;
* a column SWAP — ``RENAME a TO tmp, b TO a, tmp TO b`` in ONE legal
  ALTER — chain-collapses to the CYCLIC net mapping {a: b, b: a},
  which NO ordered one-at-a-time application can realize.

The route's chain-collapse produces a NET old→new mapping (multi-hop
chains already collapsed), so the correct semantics here are
SIMULTANEOUS application: every applicable entry renames at once
(``df.select`` with per-column aliases), which handles swaps for free
and is order-independent.  ``plan_renames`` validates and returns the
net applicable mapping; ``rename_frame`` applies one to a DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterable


def plan_renames(
    cols: Iterable[str], mapping: dict[str, str], *, missing_ok: bool = False
) -> dict[str, str]:
    """The subset of ``mapping`` to apply SIMULTANEOUSLY to a store
    whose current columns are ``cols`` — {} when nothing applies.

    * identity entries (old == new) drop out;
    * entries whose old name is absent but new name present are
      skipped (already-applied replay);
    * entries where NEITHER name exists raise "not found" by default
      (a blind store-level call with a bogus column must stay loud);
      with ``missing_ok=True`` they are skipped — the route sets it
      when the mapping came from parsed upstream DDL, where the legal
      reading is "added then renamed before any merge materialized it"
      (the evolved decode schema lands the data under the new name);
    * a FULL REPLAY of a freed-name chain (every entry already
      applied — re-running the first entry would see its target
      occupied) is detected by inverse simulation and returns {};
    * a genuine collision — a target occupied by a column this mapping
      does not itself rename away — raises ValueError.

    A CYCLIC mapping (column swap) validates fine: every target is
    freed by another entry in the same simultaneous step.  NOTE a
    cyclic mapping's replay is indistinguishable from a fresh apply by
    column-set inspection (the post-state contains both names) — the
    stores guard that with a durable statement-id marker instead
    (``stmt_id`` on ``rename_columns``)."""
    colset = set(cols)
    entries = [(o, n) for o, n in mapping.items() if o != n]
    if not entries:
        return {}
    applicable: dict[str, str] = {}
    missing: list[str] = []
    for o, n in entries:
        if o in colset:
            applicable[o] = n
        elif n not in colset:
            missing.append(o)
        # old absent + new present: already-applied replay — skip
    if missing and not missing_ok:
        old = missing[0]
        raise ValueError(
            f"rename_columns: column {old!r} not found (and "
            f"{mapping[old]!r} absent — not an already-applied replay)"
        )
    if not applicable:
        return {}
    targets = list(applicable.values())
    if len(set(targets)) != len(targets):
        raise ValueError(
            f"rename_columns: duplicate rename target in {applicable!r}"
        )
    conflicts = [
        n
        for o, n in applicable.items()
        if n in colset and n not in applicable  # target not freed
    ]
    if not conflicts:
        return applicable
    # A conflict is either a true collision or a REPLAY of a freed-name
    # chain (after full application the freed name is live again, so a
    # re-run sees the first entry's target occupied).  Distinguish by
    # inverting the WHOLE mapping against the current columns: if every
    # entry inverts cleanly and re-applying the mapping to that
    # reconstructed pre-state lands exactly back on the current
    # columns, the mapping was already applied — a no-op replay.
    err = ValueError(
        f"rename_columns: target column {conflicts[0]!r} already exists"
    )
    inverse = {n: o for o, n in entries}
    if len(inverse) != len(entries):
        raise err
    # every entry's NEW name must be live, and undoing must not collide
    # with a column the inverse does not itself rename away
    if any(n not in colset for _o, n in entries):
        raise err
    if any(o in colset and o not in inverse for o in inverse.values()):
        raise err
    pre = {inverse.get(c, c) for c in colset}
    redo = {o: n for o, n in entries if o in pre}
    post = (pre - set(redo)) | set(redo.values())
    if post == colset:
        return {}
    raise err


def rename_frame(df, mapping: dict[str, str]):
    """Apply a net rename mapping to a DataFrame SIMULTANEOUSLY (one
    ``select`` with per-column aliases) — order-free, so cyclic
    mappings (swaps) work where sequential ``withColumnRenamed``
    cannot.  Entries whose old column is absent are skipped; a target
    that collides with a column the mapping does not rename away
    raises."""
    import pyspark.sql.functions as F

    present = {
        o: n for o, n in mapping.items() if o != n and o in df.columns
    }
    if not present:
        return df
    kept = set(df.columns) - set(present)
    for o, n in present.items():
        if n in kept:
            raise ValueError(
                f"rename_frame: target column {n!r} already exists"
            )
    return df.select(
        *[F.col(c).alias(present.get(c, c)) for c in df.columns]
    )


def compose_renames(first: dict[str, str], then: dict[str, str]) -> dict[str, str]:
    """Net mapping of applying ``first`` then ``then`` (each a
    simultaneous net map).  Plain function composition — correct for
    chains AND swaps, unlike the old entry-by-entry fold (which
    silently dropped half of a recorded swap)."""
    out: dict[str, str] = {}
    mid_targets = set(first.values())
    for o, mid in first.items():
        out[o] = then.get(mid, mid)
    for o, n in then.items():
        if o not in mid_targets and o not in first:
            out[o] = n
    return {o: n for o, n in out.items() if o != n}


def plan_rename_steps(
    cols: Iterable[str], mapping: dict[str, str], *, missing_ok: bool = False
) -> list[tuple[str, str]]:
    """Back-compat shim: the net applicable mapping as (old, new)
    pairs.  The pairs are a SIMULTANEOUS batch, not sequential steps —
    apply them with ``rename_frame``, never one withColumnRenamed at a
    time (a swap would collide)."""
    return list(plan_renames(cols, mapping, missing_ok=missing_ok).items())
