"""Time-partitioned CDC target: partition-grain retention + pruning.

A 100 TB synced fact table is not just hash-bucketed — it is
partitioned by an immutable time-derived column (order year/month,
ingestion date) so that (a) retention is a PARTITION DROP, a pure
manifest edit with zero data movement, instead of a purge that touches
every bucket, and (b) time-scoped reads open only the partitions they
name (planning-time pruning, like Iceberg partition specs / Hive-style
layout).  The reference has no table layout at all (it streams to a
warehouse and leaves layout there); this composes the engine's own
versioned store into that layout:

* each partition value owns an independent ``VersionedBucketedTable``
  under ``path/p=<value>/<generation>/`` — all of its machinery
  (touched-bucket merges, Bloom skipping, clustering, per-partition
  time travel) applies unchanged within the partition;
* a PARENT manifest maps each parent version to
  ``{partition: (generation, sub_version)}`` — one atomic pointer flip
  per merge/drop, so cross-partition reads are always a consistent
  snapshot (the SnapshotCoordinator idea, applied to partitions of one
  table);
* ``drop_partitions`` mints a new parent version WITHOUT the named
  partitions — O(1), no data touched; older parent versions still
  time-travel to them until ``gc`` physically reclaims generations
  no retained parent version references;
* late data for a dropped partition starts a FRESH generation (a new
  sub-store): resurrecting the old store would silently un-delete every
  dropped row.  Generation names derive from the batch id, so a
  crash-replayed batch re-enters the SAME generation and its sub-store
  batch guard makes the replay a no-op.

The parent exposes the same consumer surface as the flat store —
``current_version`` / ``read_at`` / ``changes_between(include_preimage=)``
— so the retractable-MV family (streaming/derived.py) maintains itself
from a partitioned table unchanged, and a partition drop RETRACTS its
rows from every downstream view through the normal CDF refresh: 100 TB
retention that keeps the serving aggregates consistent for free.

Contract: the partition column must be IMMUTABLE per key (derive it
from creation time, not from mutable state).  A key whose partition
value changed would live in two partitions at once — the same contract
Hive/Iceberg static partitioning imposes.  Partitions-per-batch is
assumed small (late-arriving data spans recent partitions, not all of
history); the distinct-partition list ships driver-side.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from qin_cdc_spark.cdc.apply import latest_by_key
from qin_cdc_spark.streaming import pointer
from qin_cdc_spark.streaming.cdc_stream import _align_to_incoming
from qin_cdc_spark.streaming.versioned import (
    VersionedBucketedTable,
    _nullable_schema,
)

PART_META_NAME = "_partitioned_meta.json"
_SAFE_PART = re.compile(r"^[A-Za-z0-9_.\-]+$")


class PartitionedVersionedTable:
    """Partition-by-immutable-column layout over versioned sub-tables."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        *,
        partition_col: str,
        n_buckets: int = 32,
        table_opts: dict | None = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.partition_col = partition_col
        self.n_buckets = n_buckets
        self.table_opts = dict(table_opts or {})
        # MV-consumer duck typing: no cross-partition Bloom index (each
        # sub-table may carry its own); probes fall through to the
        # semi-join path.
        self.bloom_cols: list[str] = []

    # -- parent manifest -----------------------------------------------------

    def _meta(self) -> dict:
        return pointer.load(
            self.path,
            PART_META_NAME,
            {"current": 0, "last_batch_id": -1, "versions": {}},
        )

    def _publish(self, meta: dict) -> None:
        pointer.publish(self.path, PART_META_NAME, meta)

    def exists(self) -> bool:
        return bool(self._meta()["versions"])

    def current_version(self) -> int:
        return self._meta()["current"]

    def versions(self) -> list[int]:
        return sorted(int(v) for v in self._meta()["versions"])

    def last_batch_id(self) -> int:
        return self._meta()["last_batch_id"]

    def partitions(self, version: int | None = None) -> list[str]:
        meta = self._meta()
        v = meta["current"] if version is None else version
        man = meta["versions"].get(str(v))
        return sorted(man) if man else []

    # -- sub-store plumbing ----------------------------------------------------

    @staticmethod
    def _pstr(value) -> str:
        s = str(value)
        if not _SAFE_PART.match(s):
            raise ValueError(
                f"partition value {value!r} is not path-safe "
                "(allowed: letters, digits, _ . -)"
            )
        return s

    def _sub(self, pstr: str, gen: str) -> VersionedBucketedTable:
        # cached per (partition, generation): the sub-store objects are
        # stateless wrappers EXCEPT for per-object memos (the merge's
        # type-probe signature) — recreating them per call would pay
        # the probe once per merge instead of once per shape
        cache = getattr(self, "_sub_cache", None)
        if cache is None:
            cache = {}
            self._sub_cache = cache
        key = (pstr, gen)
        if key not in cache:
            cache[key] = VersionedBucketedTable(
                self.spark,
                os.path.join(self.path, f"p={pstr}", gen),
                self.keys,
                n_buckets=self.n_buckets,
                **self.table_opts,
            )
        return cache[key]

    def _manifest(self, version: int | None = None) -> dict:
        meta = self._meta()
        if not meta["versions"]:
            return {}
        v = meta["current"] if version is None else version
        man = meta["versions"].get(str(v))
        if man is None:
            raise ValueError(
                f"version {v} not retained at {self.path} "
                f"(have {self.versions()}) — expired?"
            )
        return man

    # -- merge -----------------------------------------------------------------

    def merge(
        self,
        changes: DataFrame,
        *,
        op_col: str = "op",
        seq_col: str = "seq",
        batch_id: int | None = None,
    ) -> int:
        """LWW-merge a change batch, split by partition value, as one
        new PARENT snapshot.

        ONE probe job collects the batch's (partition, bucket) pairs.
        The slices then land in groups — one per (sub-store bucket
        count, merged column set, stored schema) — and each group is
        ONE scan + ``latest_by_key`` + ``partitionBy(_part, _bucket)``
        write, after which every sub-store of the group adopts its
        staged bucket dirs by manifest math (``_mint_version``) and runs
        its auto-rebucket policy.  The steady-state batch is one group:
        probe + one write, however many partitions it touches (at sf0.1
        each extra Spark action costs ~0.3-0.7 s of planning, commit
        and py4j overhead).  The
        parent manifest records the consistent {partition →
        sub-version} map in one atomic flip AFTER every slice landed.
        A crash mid-way replays safely: slices whose sub-store guard
        already holds the batch keep their version, the rest land
        again, the parent publish completes the batch."""
        meta = self._meta()
        if batch_id is not None and batch_id <= meta["last_batch_id"]:
            return meta["current"]
        proto = VersionedBucketedTable(
            self.spark, self.path, self.keys,
            n_buckets=self.n_buckets, **self.table_opts,
        )
        changes = changes.persist()
        try:
            pairs = [
                (r[0], r[1])
                for r in changes.select(
                    F.col(self.partition_col),
                    proto._bucket_expr(self.n_buckets).alias("_b"),
                ).distinct().collect()
            ]
            pvals = sorted({p for p, _ in pairs}, key=str)
            if any(v is None for v in pvals):
                raise ValueError(
                    f"merge: NULL {self.partition_col} — the partition column "
                    "must be present on every change row"
                )
            if not pvals:
                # empty batch: advance the replay guard, mint no snapshot
                if batch_id is not None:
                    meta["last_batch_id"] = batch_id
                    self._publish(meta)
                return meta["current"]
            buckets_of: dict = {}
            for p, b in pairs:
                buckets_of.setdefault(p, []).append(b)
            cur_man = dict(meta["versions"].get(str(meta["current"]), {}))
            new_man = dict(cur_man)
            incoming_all = proto._incoming_frame(
                changes, op_col, seq_col, self.n_buckets
            )
            inc_cols = frozenset(f.name for f in incoming_all.schema.fields)

            # Plan every slice DRIVER-side and group it.  Slices of
            # different column vintages must not share a write (widening
            # would give a sub-store columns it never had), nor slices of
            # different bucket counts (a rebucketed sub-store).  A legacy
            # sub-store without a recorded schema keys on its own name:
            # it reads with mergeSchema, alone, and the version it mints
            # records the schema.
            groups: dict[tuple, list[dict]] = {}
            for pv in pvals:
                pstr = self._pstr(pv)
                ent = cur_man.get(pstr)
                # new partition — or one dropped earlier: a FRESH
                # generation (resurrecting the old store would un-delete
                # every dropped row).  Deterministic name ⇒ a replayed
                # batch re-enters the same generation.
                if ent is not None:
                    gen = ent["gen"]
                elif batch_id is not None:
                    gen = f"g{batch_id}"
                else:
                    gen = f"g-{uuid.uuid4().hex[:8]}"
                sub = self._sub(pstr, gen)
                sub_meta = sub._meta()
                if batch_id is not None and batch_id <= sub_meta["last_batch_id"]:
                    # slice already landed by a crashed earlier attempt:
                    # keep its current version, recompute nothing
                    new_man[pstr] = {"gen": gen, "v": sub_meta["current"]}
                    continue
                scur = sub_meta["versions"].get(
                    str(sub_meta["current"]), {"buckets": {}}
                )
                schema = scur.get("schema")
                if not scur["buckets"]:
                    cols, sj = inc_cols, None
                elif schema is None:
                    cols, sj = pstr, None
                else:
                    cols = inc_cols | {f["name"] for f in schema["fields"]}
                    sj = json.dumps(schema, sort_keys=True)
                key = (sub._manifest_n_buckets(scur), cols, sj)
                groups.setdefault(key, []).append(
                    {"pv": pv, "pstr": pstr, "gen": gen, "sub": sub,
                     "sub_meta": sub_meta, "scur": scur}
                )
            # a slice with no stored rows (a new partition) has no schema
            # to diverge from: it joins a group of its bucket count and
            # column set
            for key in [k for k in groups if k[2] is None]:
                host = next(
                    (h for h in groups if h[:2] == key[:2] and h[2]), None
                )
                if host is not None:
                    groups[host] += groups.pop(key)

            # Each group lands through ONE scan + ONE aggregation + ONE
            # write: the partition column is immutable per key, so all
            # slices' (current ∪ incoming) rows reduce in a single
            # latest_by_key over (keys, _part, _bucket) — the write's plan
            # stays the size of one slice's, not |partitions|× (a first
            # cut that unioned per-slice merge subtrees was measured
            # SLOWER than per-slice merges: the big plan's analysis/AQE
            # cost on one driver thread ate the action savings).
            for (nb, _, sj), plans in groups.items():
                inc = incoming_all
                if nb != self.n_buckets:
                    inc = proto._incoming_frame(changes, op_col, seq_col, nb)
                if len(plans) < len(pvals):
                    # other groups' and landed slices' rows stay out
                    inc = inc.filter(
                        F.col(self.partition_col).isin([p["pv"] for p in plans])
                    )
                touched_of = buckets_of
                if nb != self.n_buckets:
                    # the parent probe hashed in the PARENT's bucket
                    # space: a rebucketed group probes its own rows
                    touched_of = {}
                    for r in inc.select(
                        self.partition_col, "_bucket"
                    ).distinct().collect():
                        touched_of.setdefault(r[0], []).append(r[1])
                for p in plans:
                    tb = sorted(
                        {str(int(b)) for b in touched_of[p["pv"]]}, key=int
                    )
                    p["touched"] = p["sub"]._widen_touched_for_retype(
                        inc, p["scur"], tb
                    )
                cur_dirs = [
                    os.path.join(p["sub"].path, p["scur"]["buckets"][b])
                    for p in plans
                    for b in p["touched"]
                    if b in p["scur"]["buckets"]
                ]
                union = inc
                if cur_dirs:
                    # declared-schema read; a legacy group (sj None)
                    # falls back to mergeSchema
                    current = proto._read_dirs(
                        {"schema": json.loads(sj) if sj else None}, cur_dirs
                    ).withColumn("_bucket", proto._bucket_expr(nb))
                    union = _align_to_incoming(current, inc).unionByName(
                        inc, allowMissingColumns=True
                    )
                # _part derived from the partition VALUE with the exact
                # _pstr rendering (a bare cast-to-string can disagree
                # with str() for some types)
                part_expr = None
                for p in plans:
                    cond = F.col(self.partition_col) == F.lit(p["pv"])
                    part_expr = (
                        F.when(cond, F.lit(p["pstr"]))
                        if part_expr is None
                        else part_expr.when(cond, F.lit(p["pstr"]))
                    )
                union = union.withColumn("_part", part_expr)
                merged = latest_by_key(
                    union, [*self.keys, "_part", "_bucket"], seq_col="_seq"
                )
                total = sum(len(p["touched"]) for p in plans)
                out = merged.repartition(
                    max(1, total), F.col("_part"), F.col("_bucket")
                )
                # within-file clustering (the sub-stores' _cluster
                # contract), with the dynamic-partition writer's
                # required (_part, _bucket) prefix so our ordering
                # survives into the files
                sort_cols = [
                    c
                    for c in (self.table_opts.get("sort_cols") or [])
                    if c in out.columns
                ]
                if sort_cols:
                    out = out.sortWithinPartitions(
                        "_part", "_bucket", *sort_cols
                    )
                stage = os.path.join(
                    self.path, f".stage-{uuid.uuid4().hex[:8]}"
                )
                out.write.partitionBy("_part", "_bucket").parquet(stage)
                schema_json = _nullable_schema(
                    StructType(
                        [f for f in merged.schema.fields if f.name != "_part"]
                    )
                ).jsonValue()
                for p in plans:
                    pdir = os.path.join(stage, f"_part={p['pstr']}")
                    sv = p["sub"]._mint_version(
                        p["sub_meta"], p["scur"], nb, p["touched"],
                        lambda b, d=pdir: os.path.join(d, f"_bucket={b}"),
                        schema_json,
                        batch_id,
                    )
                    # the sub-store's auto-rebucket policy: free below its
                    # threshold, None when unset; a fired rebucket mints a
                    # further sub-version, which the parent records
                    rv = p["sub"].maybe_rebucket()
                    new_man[p["pstr"]] = {
                        "gen": p["gen"], "v": sv if rv is None else rv
                    }
                shutil.rmtree(stage, ignore_errors=True)
        finally:
            changes.unpersist()
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = new_man
        meta["current"] = new_v
        if batch_id is not None:
            meta["last_batch_id"] = batch_id
        self._publish(meta)
        return new_v

    # -- schema evolution --------------------------------------------------------

    def rename_columns(
        self,
        mapping: dict[str, str],
        *,
        missing_ok: bool = False,
        stmt_id=None,
    ) -> int:
        """Value-preserving column rename over every live partition
        (the upstream RENAME COLUMN applied to a partitioned target):
        each partition's current-generation sub-store renames in place
        (minting a sub-version; its own manifest records the rename so
        sub-CDFs align), then ONE parent flip publishes the renamed
        {partition → sub-version} map — readers see the rename
        atomically.  The rename also records at the PARENT level so a
        parent-range CDF whose dropped-partition deletes render from a
        pre-rename generation can align those frames forward.  The
        PARTITION column itself is parent-manifest identity and is not
        renameable (restate the table); key renames follow through
        ``keys`` (cached sub objects mutate theirs in their own
        rename).  Crash mid-way is safe: un-flipped parents still
        reference the pre-rename sub-versions (a consistent old-name
        view), and the replay's sub renames no-op (already-applied
        entries skip)."""
        if self.partition_col in mapping:
            raise ValueError(
                f"rename_columns: {self.partition_col!r} is the partition "
                "column — partition identity is not renameable"
            )
        meta = self._meta()
        if stmt_id is not None and stmt_id in meta.get("rename_stmts", []):
            return meta["current"]
        cur_man = dict(meta["versions"].get(str(meta["current"]), {}))
        if not cur_man:
            self.keys = [mapping.get(k, k) for k in self.keys]
            return meta["current"]
        new_man = {}
        for pstr, ent in cur_man.items():
            sub = self._sub(pstr, ent["gen"])
            sv = sub.rename_columns(
                dict(mapping), missing_ok=missing_ok, stmt_id=stmt_id
            )
            new_man[pstr] = {"gen": ent["gen"], "v": sv}
        self.keys = [mapping.get(k, k) for k in self.keys]
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = new_man
        meta["current"] = new_v
        meta.setdefault("renames", []).append([new_v, dict(mapping)])
        if stmt_id is not None:
            meta.setdefault("rename_stmts", []).append(stmt_id)
        self._publish(meta)
        return new_v

    def _renames_between(self, v_from: int, v_to: int) -> dict[str, str]:
        from qin_cdc_spark.streaming.rename_plan import compose_renames

        out: dict[str, str] = {}
        for v, ren in self._meta().get("renames", []):
            if not (v_from < v <= v_to):
                continue
            out = compose_renames(out, dict(ren))
        return out

    # -- verbatim-DDL ledger (rename fidelity over the wire) ----------------------

    def attach_ddl(self, sqls: list[str]) -> None:
        """Record upstream DDL against the CURRENT parent version — the
        partitioned sibling of VersionedBucketedTable.attach_ddl, so a
        partitioned route's egress forwards renames verbatim too."""
        if not sqls:
            return
        meta = self._meta()
        v = meta["current"]
        log = meta.setdefault("ddl_log", [])
        add = []
        for s in sqls:
            if [v, s] not in log and [v, s] not in add:
                add.append([v, s])
        if add:
            log.extend(add)
            self._publish(meta)

    def ddl_between(self, v_from: int, v_to: int) -> list[str]:
        return [
            s for v, s in self._meta().get("ddl_log", []) if v_from < v <= v_to
        ]

    # -- retention ---------------------------------------------------------------

    def drop_partitions(self, values: list) -> int:
        """Retention drop: mint a new parent version WITHOUT the named
        partitions — a manifest edit, zero data movement (at 100 TB the
        alternative, purge-by-key, touches every bucket of the dropped
        range).  Older parent versions still time-travel to the dropped
        data until ``gc`` reclaims it; downstream MVs see the drop
        as deletes in ``changes_between`` and retract accordingly."""
        meta = self._meta()
        cur_man = dict(meta["versions"].get(str(meta["current"]), {}))
        doomed = {self._pstr(v) for v in values}
        if not doomed & set(cur_man):
            # nothing to drop (e.g. a replayed retention pass): no mint
            return meta["current"]
        new_man = {p: e for p, e in cur_man.items() if p not in doomed}
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = new_man
        meta["current"] = new_v
        self._publish(meta)
        return new_v

    def overwrite_partition(
        self, value, rows: DataFrame, *, seq_col: str | None = None
    ) -> int:
        """Backfill / restatement: atomically replace ONE partition's
        contents with ``rows`` (a corrected recomputation, a late bulk
        load) while every other partition — and time travel to the
        pre-restatement snapshot — is untouched.  The replacement lands
        as a FRESH generation (the dropped-partition discipline: the old
        store must not leak rows into the restated view), referenced by
        a new parent version in one manifest flip; the old generation
        remains readable via older parent versions until ``gc``.
        ``rows`` are inserts; ``seq_col`` names an existing total-order
        column, else a constant seq is stamped (the restatement IS the
        truth)."""
        pstr = self._pstr(value)
        meta = self._meta()
        gen = f"g-{uuid.uuid4().hex[:8]}"
        sub = self._sub(pstr, gen)
        ev = rows
        if seq_col is None:
            ev = ev.withColumn("_seq_bf", F.lit(1).cast("long"))
            seq_col = "_seq_bf"
        ev = ev.withColumn("_op_bf", F.lit("insert"))
        sv = sub.merge(ev, op_col="_op_bf", seq_col=seq_col)
        cur_man = dict(meta["versions"].get(str(meta["current"]), {}))
        cur_man[pstr] = {"gen": gen, "v": sv}
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = cur_man
        meta["current"] = new_v
        self._publish(meta)
        return new_v

    def gc_tombstones(self, min_live_seq: int) -> int:
        """Partition-wise tombstone GC: delegate to every live
        sub-store (each rewrites only its droppable buckets — see
        VersionedBucketedTable.gc_tombstones) and mint ONE new parent
        version mapping to the gc'd sub-versions.  Returns the current
        parent version unchanged when no partition had droppable
        tombstones."""
        meta = self._meta()
        if not meta["versions"]:
            return meta["current"]
        man = dict(meta["versions"][str(meta["current"])])
        changed = False
        new_man = {}
        for pstr, ent in man.items():
            sub = self._sub(pstr, ent["gen"])
            sv = sub.gc_tombstones(min_live_seq)
            if sv != int(ent["v"]):
                changed = True
            new_man[pstr] = {"gen": ent["gen"], "v": sv}
        if not changed:
            return meta["current"]
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = new_man
        meta["current"] = new_v
        self._publish(meta)
        return new_v

    def retain_latest(self, keep: int) -> int:
        """Streaming retention policy: drop every partition but the
        newest ``keep`` (numeric order when every value parses as an
        int — years, epoch days — else lexicographic, which matches
        zero-padded date strings).  No-ops (no version mint) when
        nothing is droppable, so a stream may call it after every
        batch."""
        if keep < 1:
            raise ValueError("retain_latest: keep must be >= 1")
        parts = self.partitions()
        if len(parts) <= keep:
            return self.current_version()
        try:
            ordered = sorted(parts, key=int)
        except ValueError:
            ordered = sorted(parts)
        return self.drop_partitions(ordered[:-keep])

    def gc(
        self, *, keep_last: int = 0, keep_versions: set[int] | None = None
    ) -> list[int]:
        """Expire parent snapshots (``VersionedBucketedTable.gc``'s
        contract: retained = the current version, the newest
        ``keep_last`` and everything in ``keep_versions``; returns the
        expired version numbers), then physically reclaim: whole
        generation dirs no retained parent version references (the
        dropped partitions), and unreferenced sub-versions inside the
        generations that survive."""
        meta = self._meta()
        vs = sorted(int(v) for v in meta["versions"])
        keep = set(keep_versions or ())
        keep.add(meta["current"])
        if keep_last > 0:
            keep.update(vs[-keep_last:])
        expired = [v for v in vs if v not in keep]
        for v in expired:
            del meta["versions"][str(v)]
        if expired:
            self._publish(meta)
        # referenced (partition, generation) → {sub-versions}
        refs: dict[tuple[str, str], set[int]] = {}
        for man in meta["versions"].values():
            for pstr, ent in man.items():
                refs.setdefault((pstr, ent["gen"]), set()).add(int(ent["v"]))
        if not os.path.isdir(self.path):
            return expired
        for pdir in os.listdir(self.path):
            if not pdir.startswith("p="):
                continue
            pstr = pdir[2:]
            pd = os.path.join(self.path, pdir)
            for gen in os.listdir(pd):
                live = refs.get((pstr, gen))
                if live is None:
                    shutil.rmtree(os.path.join(pd, gen), ignore_errors=True)
                else:
                    self._sub(pstr, gen).gc(keep_versions=live)
            if not os.listdir(pd):
                os.rmdir(pd)
        return expired

    # -- reads ---------------------------------------------------------------------

    def _union(self, frames: list[DataFrame]) -> DataFrame | None:
        frames = [f for f in frames if f is not None]
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read(self, partitions: list | None = None) -> DataFrame | None:
        """Current snapshot; ``partitions`` prunes to the named values —
        planning-time path selection, no other partition's files appear
        in the scan (pytest-asserted via inputFiles)."""
        return self.read_at(self.current_version(), partitions=partitions)

    def read_at(
        self, version: int, partitions: list | None = None
    ) -> DataFrame | None:
        man = self._manifest(version)
        if partitions is not None:
            names = {self._pstr(p) for p in partitions}
            man = {p: e for p, e in man.items() if p in names}
        return self._union(
            [
                self._sub(p, e["gen"]).read_at(e["v"])
                for p, e in sorted(man.items())
            ]
        )

    def history(self) -> list[dict]:
        """Parent-level snapshot audit (the partitioned analog of
        ``VersionedBucketedTable.history``): per retained parent
        version — partition count, partitions ADDED/DROPPED vs the
        previous retained version (a retention drop shows as dropped;
        a backfill's generation swap keeps the name and shows in the
        row delta), and the exact row total across the referenced
        sub-snapshots (parquet-footer-exact, including not-yet-GC'd
        tombstones).  Entirely driver-side from manifests
        + footers — zero Spark jobs, safe for monitoring at any
        frequency; per-(partition, generation) sub-histories are
        computed once."""
        meta = self._meta()
        subs: dict[tuple[str, str], dict[int, int]] = {}
        out: list[dict] = []
        prev: set[str] = set()
        for v in sorted(int(x) for x in meta["versions"]):
            man = meta["versions"][str(v)]
            rows = 0
            partial = False
            for pstr, ent in man.items():
                key = (pstr, ent["gen"])
                if key not in subs:
                    subs[key] = {
                        h["version"]: h["rows"]
                        for h in self._sub(pstr, ent["gen"]).history()
                    }
                sub_rows = subs[key].get(int(ent["v"]))
                if sub_rows is None:
                    # referenced sub-version reclaimed by a sub-level gc:
                    # surface the inconsistency instead of silently
                    # counting the partition as 0 rows
                    partial = True
                else:
                    rows += sub_rows
            parts = set(man)
            out.append(
                {
                    "version": v,
                    "n_partitions": len(parts),
                    "added": len(parts - prev),
                    "dropped": len(prev - parts),
                    "rows": None if partial else rows,
                    "partial": partial,
                    "is_current": v == meta["current"],
                }
            )
            prev = parts
        return out

    def read_key(self, partition_value, key_values: list) -> DataFrame | None:
        """Point lookup: the partition value names the sub-store (pure
        manifest math), whose own ``read_key`` prunes to one bucket —
        O(partition/n_buckets) for any key at any table size."""
        ent = self._manifest().get(self._pstr(partition_value))
        if ent is None:
            return None
        return self._sub(self._pstr(partition_value), ent["gen"]).read_key(
            key_values
        )

    # -- change data feed ------------------------------------------------------------

    def _value_cols(self, df: DataFrame) -> list[str]:
        return [c for c in df.columns if c not in self.keys]

    def _as_inserts(self, rows: DataFrame, include_preimage: bool) -> DataFrame:
        out = rows.withColumn("_change", F.lit("insert"))
        if include_preimage:
            for c in self._value_cols(rows):
                out = out.withColumn(f"_pre_{c}", F.lit(None))
        return out

    def _as_deletes(self, rows: DataFrame, include_preimage: bool) -> DataFrame:
        """Mirror the flat store's delete shape: value columns are typed
        NULLs (the post-image side has no row), preimages carry the
        values."""
        vcols = self._value_cols(rows)
        sel = [*self.keys]
        for f in rows.schema.fields:
            if f.name in vcols:
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
        out = rows.select(*sel).withColumn("_change", F.lit("delete"))
        if include_preimage:
            pre = rows.select(
                *self.keys, *[F.col(c).alias(f"_pre_{c}") for c in vcols]
            )
            out = out.join(pre, self.keys, "inner")
        return out

    def changes_between(
        self, v_from: int, v_to: int, *, include_preimage: bool = False
    ) -> DataFrame:
        """CDF across partitions: per-partition sub-CDFs for partitions
        live in both snapshots (skipped entirely when the sub-version
        did not move), whole-partition inserts for partitions born in
        the range, whole-partition DELETES for partitions dropped in
        the range (or replaced by a later generation) — which is what
        lets a downstream MV treat a retention drop as ordinary
        retraction."""
        m_from = self._manifest(v_from) if v_from > 0 else {}
        m_to = self._manifest(v_to)
        renames = self._renames_between(v_from, v_to)
        parts: list[DataFrame] = []
        for pstr in sorted(set(m_from) | set(m_to)):
            a, b = m_from.get(pstr), m_to.get(pstr)
            if a is not None and b is not None and a["gen"] == b["gen"]:
                if a["v"] != b["v"]:
                    parts.append(
                        self._sub(pstr, a["gen"]).changes_between(
                            a["v"], b["v"], include_preimage=include_preimage
                        )
                    )
                continue
            if a is not None:  # dropped (or generation replaced)
                old = self._sub(pstr, a["gen"]).read_at(a["v"])
                if old is not None:
                    # a pre-rename generation renders its deletes under
                    # the OLD names — align forward (simultaneously:
                    # swaps must not collide) so the union (and
                    # self.keys) stay well-formed across the boundary
                    from qin_cdc_spark.streaming.rename_plan import (
                        rename_frame,
                    )

                    old = rename_frame(old, renames)
                    parts.append(self._as_deletes(old, include_preimage))
            if b is not None:  # born (or generation replaced)
                new = self._sub(pstr, b["gen"]).read_at(b["v"])
                if new is not None:
                    parts.append(self._as_inserts(new, include_preimage))
        out = self._union(parts)
        if out is None:
            # Degenerate-but-valid range (v_from == v_to, or no partition
            # moved): mirror the flat VersionedBucketedTable's contract and
            # return an EMPTY CDF frame instead of raising, so a generic
            # consumer can duck-type over both stores.  Schema comes from
            # the v_to snapshot shaped exactly like a real CDF row.
            snap = self.read_at(v_to)
            if snap is None:
                raise ValueError("changes_between: v_to snapshot is empty")
            empty = snap.limit(0)
            return self._union(
                [
                    self._as_inserts(empty, include_preimage),
                    self._as_deletes(empty, include_preimage),
                ]
            )
        return out
