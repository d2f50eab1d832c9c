"""Snapshot clone (backup/restore) for the manifest-backed stores.

A `VersionedBucketedTable` snapshot is already a self-describing,
immutable artifact: uniquely-named data dirs + one JSON manifest
naming them.  Cloning a snapshot is therefore a pure FILE COPY of the
referenced dirs plus a one-version manifest — no Spark jobs, no
re-encode, no schema handling, and the result is a fully functional
store (reads, merges, CDF, fsck) rooted at the destination.

Operational contract:

* ``clone_versioned(table, dest, version=)`` copies ONE retained
  snapshot.  Data-dir NAMES are preserved, so the manifest transfers
  verbatim; bytes are copied (the dirs are immutable, so any parallel
  copier — distcp, s3 sync, rsync — can replace the local copytree at
  real scale; the layout, not the copier, is the contract).
* ``last_batch_id`` is preserved by default: a restored target resumes
  its stream WITHOUT double-applying the already-folded batches (the
  replay guard keeps working).  Pass ``preserve_batch_id=False`` when
  cloning into a new pipeline that will feed it a fresh stream.
* ``clone_partitioned`` clones the parent manifest's single version
  plus, for every referenced (partition, generation), exactly the
  referenced sub-version — dropped partitions and unreferenced
  generations are NOT copied (a backup is the snapshot, not the
  history).
* Restore = clone in the other direction.  After restoring a SOURCE
  under consumers (MVs/GSIs), run ``fsck.fsck_consumer`` — a consumer
  whose applied version is ahead of the restored source must be
  restored or rebuilt too (the freeze hazard fsck names).

Cost: O(snapshot bytes) copy + O(buckets) manifest entries.  History
is intentionally not cloned; clone the store directory wholesale if
you want every retained version.
"""

from __future__ import annotations

import os
import shutil

from qin_cdc_spark.streaming import pointer
from qin_cdc_spark.streaming.partitioned import (
    PART_META_NAME,
    PartitionedVersionedTable,
)
from qin_cdc_spark.streaming.versioned import META_NAME, VersionedBucketedTable


def clone_versioned(
    table: VersionedBucketedTable,
    dest_path: str,
    *,
    version: int | None = None,
    preserve_batch_id: bool = True,
) -> VersionedBucketedTable:
    """Copy one retained snapshot to ``dest_path``; returns the clone
    as a live table with the same key/bucket configuration."""
    meta = table._meta()
    if not meta["versions"]:
        raise ValueError(f"nothing to clone at {table.path}: store is empty")
    v = meta["current"] if version is None else version
    man = meta["versions"].get(str(v))
    if man is None:
        raise ValueError(
            f"version {v} not retained at {table.path} "
            f"(have {sorted(int(x) for x in meta['versions'])})"
        )
    os.makedirs(dest_path, exist_ok=True)
    for d in set(man["buckets"].values()):
        src = os.path.join(table.path, d)
        dst = os.path.join(dest_path, d)
        if not os.path.isdir(dst):
            shutil.copytree(src, dst)
    pointer.publish(
        dest_path,
        META_NAME,
        {
            "current": v,
            "last_batch_id": meta["last_batch_id"] if preserve_batch_id else -1,
            "versions": {str(v): man},
            # store-level props (e.g. an SCD2 history retention floor)
            # are semantics, not bookkeeping — a clone without them
            # would silently serve below-floor reads as if complete
            "props": meta.get("props", {}),
        },
    )
    return VersionedBucketedTable(
        table.spark,
        dest_path,
        table.keys,
        n_buckets=table.n_buckets,
        bloom_cols=table.bloom_cols,
        sort_cols=table.sort_cols,
        bucket_cols=table.bucket_cols,
    )


def clone_partitioned(
    table: PartitionedVersionedTable,
    dest_path: str,
    *,
    version: int | None = None,
    preserve_batch_id: bool = True,
) -> PartitionedVersionedTable:
    """Clone one parent snapshot: the parent manifest's version plus
    exactly the referenced sub-version of each (partition, generation)."""
    meta = table._meta()
    if not meta["versions"]:
        raise ValueError(f"nothing to clone at {table.path}: store is empty")
    v = meta["current"] if version is None else version
    man = meta["versions"].get(str(v))
    if man is None:
        raise ValueError(
            f"version {v} not retained at {table.path} "
            f"(have {sorted(int(x) for x in meta['versions'])})"
        )
    os.makedirs(dest_path, exist_ok=True)
    for pstr, ent in man.items():
        sub = table._sub(pstr, ent["gen"])
        clone_versioned(
            sub,
            os.path.join(dest_path, f"p={pstr}", ent["gen"]),
            version=int(ent["v"]),
            preserve_batch_id=True,  # sub guards carry their own ids
        )
    pointer.publish(
        dest_path,
        PART_META_NAME,
        {
            "current": v,
            "last_batch_id": meta["last_batch_id"] if preserve_batch_id else -1,
            "versions": {str(v): man},
        },
    )
    return PartitionedVersionedTable(
        table.spark,
        dest_path,
        table.keys,
        partition_col=table.partition_col,
        n_buckets=table.n_buckets,
        table_opts=table.table_opts,
    )
