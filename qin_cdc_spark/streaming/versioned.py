"""Versioned (time-travel) bucketed upsert table — snapshot isolation
with per-bucket file reuse, the Iceberg/Delta snapshot pattern scaled
down to a parquet directory + JSON manifest.

Why this exists: the CDC targets in ``cdc_stream.py`` keep only the
latest state — auditing "what did the table look like before batch N",
reproducing a training run against the exact corpus snapshot it saw,
or diffing two ingest points all need retained history.  Warehouses
solve it with snapshot manifests over immutable files; this is that
design, literally:

* Data directories are IMMUTABLE and uniquely named (``d-<uuid>``),
  each holding one bucket's rows for one version.
* A version is a MANIFEST: ``bucket → data-dir`` mapping in
  ``_versions_meta.json``.  A merge writes new dirs for the TOUCHED
  buckets only and copies the rest of the mapping — untouched buckets
  share bytes across every version that references them.  Publishing
  is one atomic ``os.replace`` of the meta file.
* ``read_at(v)`` unions the dirs named by manifest ``v`` — time travel
  is manifest selection, zero data movement.  ``read()`` is the
  current version.
* ``gc(keep_last=k)`` drops old manifests and deletes data dirs no
  retained version references (Iceberg's ``expire_snapshots``).

Scale accounting (the point): per-version write cost is
O(touched buckets), history cost is O(Σ touched) — NOT O(versions ×
table).  A crash at any point leaves the previous snapshot intact
(immutable dirs + atomic pointer flip); orphaned dirs from a crashed
publish are GC'd on the next successful one.  LWW merge semantics,
``_seq``/tombstone columns, and schema-evolution alignment are shared
with ``BucketedUpsertTable`` — reference parity per SURVEY §3.2 (the
apply path of outputs/starrocks/starrocks.go:64-129) plus retained
history the reference does not have.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from qin_cdc_spark.cdc.apply import latest_by_key
from qin_cdc_spark.streaming import pointer
from qin_cdc_spark.streaming.cdc_stream import _align_to_incoming

META_NAME = "_versions_meta.json"


def _nullable_schema(schema: StructType) -> StructType:
    """All-nullable copy minus the transient _bucket partition column —
    the shape recorded into version manifests for declared-schema reads."""
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(f.name, f.dataType, True)
            for f in schema.fields
            if f.name != "_bucket"
        ]
    )


class VersionedBucketedTable:
    """Primary-keyed LWW table with retained, GC-able snapshots."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        *,
        n_buckets: int = 32,
        bloom_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
        auto_rebucket_bytes: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets
        # bucket placement may hash a PREFIX SUBSET of the key columns
        # (default: all of them).  Identity stays the full key; placement
        # by the subset CO-LOCATES every row sharing it in one bucket —
        # what a history table keyed (entity, valid_from) needs so "all
        # versions of entity K" is a one-bucket read (see scd2.py).  All
        # rows of a full key share any subset's hash, so LWW reduction
        # within buckets stays exhaustive by construction.
        self.bucket_cols = list(bucket_cols) if bucket_cols else list(self.keys)
        unknown = set(self.bucket_cols) - set(self.keys)
        if unknown:
            raise ValueError(
                f"bucket_cols must be a subset of keys; unknown: {sorted(unknown)}"
            )
        # secondary-column data skipping: per-data-dir packed Bloom
        # bitsets maintained incrementally (touched dirs only) at merge
        # time — see read_where()
        self.bloom_cols = list(bloom_cols or [])
        # auto-rebucket policy (OPTIMIZATION_r11, VERDICT r10 #4): when
        # set, every merge checks the CURRENT snapshot's mean bucket
        # bytes (driver-side os.stat over the manifest's dirs — zero
        # Spark jobs) and doubles the bucket count once it crosses this
        # threshold, so touched-bucket merge cost and the CDF's pruned
        # read stay O(delta·bucket_bytes) as the table grows instead of
        # degrading with bucket size at fixed n_buckets.  Off (None) by
        # default: the rebucket is one full-table rewrite, a latency
        # spike the operator must opt into (Iceberg's bucket-spec
        # evolution has the same cost and the same opt-in shape).
        self.auto_rebucket_bytes = auto_rebucket_bytes
        # within-bucket clustering: every merged/rebucketed bucket file
        # is written sorted by these columns, so parquet row-group
        # min/max stats become tight and RANGE predicates on them skip
        # row groups inside every dir (the range-scan complement to the
        # equality-only Bloom path — per-dir zone maps would be useless
        # here because PK hash-bucketing spreads any column's values
        # over every bucket; within-file clustering is the level where
        # order can actually be imposed).  Costs one in-memory sort of
        # each touched bucket during the merge's existing write pass —
        # no extra shuffle (sortWithinPartitions after the bucket
        # repartition).
        self.sort_cols = list(sort_cols or [])

    # -- manifest ----------------------------------------------------------

    def _meta(self) -> dict:
        return pointer.load(
            self.path, META_NAME, {"current": 0, "last_batch_id": -1, "versions": {}}
        )

    def _publish(self, meta: dict) -> None:
        """Atomic pointer flip, then GC data dirs no retained version
        references (orphans from crashed publishes included)."""
        pointer.publish(self.path, META_NAME, meta)
        live = {
            d for v in meta["versions"].values() for d in v["buckets"].values()
        }
        pointer.sweep(self.path, "d-", live)

    def exists(self) -> bool:
        return bool(self._meta()["versions"])

    def get_prop(self, name: str, default=None):
        """Store-level property from the manifest (crash-atomic with
        it).  Layered stores persist their own durable scalars here —
        e.g. the SCD2 history retention floor — so the value rides the
        SAME manifest flip as the data and survives every merge."""
        return self._meta().get("props", {}).get(name, default)

    def set_prop(self, name: str, value) -> None:
        meta = self._meta()
        meta.setdefault("props", {})[name] = value
        self._publish(meta)

    def current_version(self) -> int:
        return self._meta()["current"]

    def versions(self) -> list[int]:
        return sorted(int(v) for v in self._meta()["versions"])

    def last_batch_id(self) -> int:
        """The replay guard's high-water mark (−1 before any merge).
        When every merge carries a monotonically-increasing external
        coordinate as ``batch_id`` (a micro-batch id, or an upstream
        table's version), this IS the applied coordinate — recorded
        atomically with the state by the manifest flip, which is what
        makes a consumer storing its progress here crash-consistent
        with no side meta file (see ``derived.DerivedKeyedAggTable``)."""
        return self._meta()["last_batch_id"]

    # -- read --------------------------------------------------------------

    @staticmethod
    def _man_schema(manifest: dict) -> StructType | None:
        """The version's recorded logical schema (None on manifests
        written before schemas were recorded)."""
        s = manifest.get("schema")
        return StructType.fromJson(s) if s is not None else None

    def _read_dirs(self, manifest: dict, paths: list[str]) -> DataFrame | None:
        """Read data dirs under the version's DECLARED schema: after
        mid-stream ADD COLUMN a version's buckets legitimately hold
        different physical schemas (only touched buckets were rewritten
        under the new one) — the recorded schema reads the old dirs'
        missing columns as typed NULLs with NO footer-merge job, where
        a plain read would silently drop the added column and
        mergeSchema paid a footer scan over every file on every read
        (VERDICT r8 #3 applied to the versioned store).  Manifests from
        before schemas were recorded fall back to mergeSchema."""
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        schema = self._man_schema(manifest)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def _read_manifest(self, manifest: dict) -> DataFrame | None:
        paths = [os.path.join(self.path, d) for d in manifest["buckets"].values()]
        return self._read_dirs(manifest, paths)

    def read_internal(self, version: int | None = None) -> DataFrame | None:
        meta = self._meta()
        if not meta["versions"]:
            return None
        v = meta["current"] if version is None else version
        man = meta["versions"].get(str(v))
        if man is None:
            raise ValueError(
                f"version {v} not retained at {self.path} "
                f"(have {self.versions()}) — expired by gc()?"
            )
        return self._read_manifest(man)

    def read(self) -> DataFrame | None:
        return self._visible(self.read_internal())

    def read_at(self, version: int) -> DataFrame | None:
        """Time travel: the table as of snapshot ``version``."""
        return self._visible(self.read_internal(version))

    def read_buckets(
        self, bucket_ids: list, version: int | None = None, *, internal: bool = False
    ) -> DataFrame | None:
        """Visible rows of exactly the named buckets — manifest-level
        pruning (no file under any other bucket is opened).  The
        serving-style read for a consumer that already knows which
        buckets its keys hash into (e.g. an incremental MV reading the
        prior totals of just the groups its delta touches).
        ``internal=True`` keeps ``_seq``/``_deleted`` (a maintenance
        caller that must out-seq stored rows, e.g. retroactive SCD2
        inserts, needs the stored LWW coordinates)."""
        meta = self._meta()
        if not meta["versions"]:
            return None
        v = meta["current"] if version is None else version
        man = meta["versions"].get(str(v))
        if man is None:
            raise ValueError(
                f"version {v} not retained at {self.path} "
                f"(have {self.versions()}) — expired by gc()?"
            )
        names = {str(b) for b in bucket_ids}
        paths = [
            os.path.join(self.path, d)
            for b, d in man["buckets"].items()
            if b in names
        ]
        full = self._read_dirs(man, paths)
        if full is None:
            return None
        return full if internal else self._visible(full)

    @staticmethod
    def _visible(full: DataFrame | None) -> DataFrame | None:
        if full is None:
            return None
        return full.filter(~F.col("_deleted")).drop("_seq", "_deleted")

    # -- merge -------------------------------------------------------------

    def _bucket_expr(self, n_buckets: int | None = None):
        return F.pmod(
            F.hash(*[F.col(k) for k in self.bucket_cols]),
            F.lit(self.n_buckets if n_buckets is None else n_buckets),
        )

    def _cluster(self, df: DataFrame) -> DataFrame:
        """Within-partition sort by ``sort_cols`` before a bucket-file
        write, so each written file's parquet row groups carry tight
        min/max stats and Spark's parquet pushdown skips row groups on
        range predicates.  ``sortWithinPartitions`` — never a shuffle;
        no-op when unconfigured.  Columns absent from ``df`` (a batch
        written before schema evolution added the sort column) are
        skipped rather than erroring: clustering is a layout hint, not
        a correctness requirement."""
        cols = [c for c in self.sort_cols if c in df.columns]
        if not cols:
            return df
        # _bucket leads the sort: the dynamic-partition writer requires
        # rows ordered by its partition column and would otherwise
        # insert its own (_bucket-only, unstable) sort on top, undoing
        # the clustering.  With the prefix satisfied, our ordering
        # survives into the files.
        if "_bucket" in df.columns:
            cols = ["_bucket", *cols]
        return df.sortWithinPartitions(*cols)

    def _manifest_n_buckets(self, man: dict) -> int:
        """Bucket count the manifest was written under.  Versions minted
        before bucket-count evolution carry no field and default to the
        constructor value (the only count that existed then)."""
        return int(man.get("n_buckets", self.n_buckets))

    def _incoming_frame(
        self, changes: DataFrame, op_col: str, seq_col: str, nb: int
    ) -> DataFrame:
        """The merge's normalized input: value columns + LWW coordinates
        (``_seq``/``_deleted``) + the bucket assignment under ``nb``."""
        return changes.select(
            *self.keys,
            *[c for c in changes.columns if c not in {op_col, seq_col, *self.keys}],
            F.col(seq_col).cast("long").alias("_seq"),
            (F.col(op_col) == "delete").alias("_deleted"),
        ).withColumn("_bucket", self._bucket_expr(nb))

    def _widen_touched_for_retype(
        self, incoming: DataFrame, cur_man: dict, touched: list[str]
    ) -> list[str]:
        """MODIFY-column evolution is TABLE-WIDE (the flat table's
        rule, cdc_stream.py): parquet files are physically typed,
        so a touched-buckets-only rewrite would mint a manifest
        mixing e.g. string and double files for one column — and
        every mergeSchema read of it throws CANNOT_MERGE_SCHEMAS.
        When any shared column's type changed, this version
        rewrites EVERY current bucket (aligned to the incoming
        types); older versions keep their own uniform files, and
        CDF across the boundary reads each side separately.  The
        probe (one dir's schema) is MEMOIZED per incoming
        signature: a steady-state stream merging the same shape
        pays it once per table object, not once per batch (a
        partitioned store merges one sub-store per partition —
        an unmemoized probe measurably taxed drop-egress)."""
        inc_sig = tuple(
            (f.name, str(f.dataType))
            for f in incoming.schema.fields
            if f.name != "_bucket"
        )
        if (
            touched
            and cur_man["buckets"]
            and inc_sig != getattr(self, "_merge_sig", None)
        ):
            # stored types come from the manifest's RECORDED schema when
            # present (OPTIMIZATION_r11): the dir-probe alternative runs
            # a schema-inference Spark job per store object per shape —
            # one per merge in every chain query's fresh session, and
            # one per PARTITION per batch in the partitioned parent
            stored = self._man_schema(cur_man)
            if stored is not None:
                stored_types = {f.name: f.dataType for f in stored.fields}
            else:
                probe_dir = next(iter(set(cur_man["buckets"].values())))
                stored_types = {
                    f.name: f.dataType
                    for f in self.spark.read.parquet(
                        os.path.join(self.path, probe_dir)
                    ).schema.fields
                }
            if any(
                f.name in stored_types and stored_types[f.name] != f.dataType
                for f in incoming.schema.fields
                if f.name != "_bucket"
            ):
                touched = sorted(set(touched) | set(cur_man["buckets"]), key=int)
            # after this merge the store's types match the incoming
            # signature (aligned rewrite or already-equal) — probe
            # again only when a DIFFERENT shape arrives
            self._merge_sig = inc_sig
        return touched

    def _merged_frame(
        self, incoming: DataFrame, cur_man: dict, nb: int, touched: list[str]
    ) -> DataFrame:
        """The new snapshot's rows for the ``touched`` buckets (lazy —
        no action): stored rows of those buckets unioned with the batch,
        reduced last-event-per-key."""
        cur_dirs = [
            os.path.join(self.path, cur_man["buckets"][b])
            for b in touched
            if b in cur_man["buckets"]
        ]
        if cur_dirs:
            # declared-schema read (recorded-manifest fallback to
            # mergeSchema): after an ADD COLUMN, dirs written before
            # the evolution legitimately lack the new column —
            # sampling one file's schema here could silently drop
            # it from the merge (the cdc_stream.py read contract)
            current = self._read_dirs(cur_man, cur_dirs)
            union = _align_to_incoming(
                current.withColumn("_bucket", self._bucket_expr(nb)), incoming
            ).unionByName(incoming, allowMissingColumns=True)
        else:
            union = incoming
        return latest_by_key(union, [*self.keys, "_bucket"], seq_col="_seq")

    def _mint_version(
        self,
        meta: dict,
        cur_man: dict,
        nb: int,
        touched: list[str],
        src_of,
        schema_json: dict,
        batch_id: int | None,
    ) -> int:
        """Adopt staged bucket dirs (``src_of(b)`` → written dir for
        bucket ``b``) into the table layout and mint the new version —
        the publish half of ``merge``, shared with the partitioned
        parent's one-write-per-batch path (whose stage dir lives under
        the PARENT, so this store's own dir may not exist yet)."""
        os.makedirs(self.path, exist_ok=True)
        new_buckets = dict(cur_man["buckets"])
        new_dnames = []
        for b in touched:
            src = src_of(b)
            dname = f"d-{uuid.uuid4().hex[:12]}"
            if os.path.isdir(src):
                os.rename(src, os.path.join(self.path, dname))
                new_buckets[b] = dname
                new_dnames.append(dname)
            else:
                # merge emptied the bucket (pure-tombstone GC etc.)
                new_buckets.pop(b, None)
        self._write_blooms(new_dnames)
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = {
            "buckets": new_buckets,
            "n_buckets": nb,
            # the version's logical schema: declared-schema reads
            # resolve mixed-vintage dirs (typed nulls for columns
            # added since a dir was written) with no footer merging
            # all-nullable copy: an old dir missing a later-added
            # column must read as nulls even where the writing
            # plan inferred a non-nullable field
            "schema": schema_json,
        }
        meta["current"] = new_v
        if batch_id is not None:
            meta["last_batch_id"] = batch_id
        self._publish(meta)
        return new_v

    def merge(
        self, changes: DataFrame, *, op_col: str = "op", seq_col: str = "seq",
        batch_id: int | None = None, touched: list | None = None,
    ) -> int:
        """LWW-merge a change batch as a NEW snapshot; returns its
        version.  With ``batch_id`` (foreachBatch wiring) a replayed
        batch no-ops instead of minting a duplicate version.

        ``touched`` (OPTIMIZATION_r10): the bucket ids the batch's keys
        hash into, when the CALLER already computed them — in the
        CURRENT manifest's bucket space (``_bucket_expr`` over
        ``_manifest_n_buckets``) and with at least one batch row per
        listed bucket.  Skips this merge's probe job AND the persist
        the probe forced (the batch is then consumed exactly once, by
        the write) — one Spark action per merge instead of two.  A
        partitioned parent derives every slice's set from one
        (partition, bucket) pair scan; an incremental MV's refresh
        derives it from the delta probe it already runs.  Pass ``[]``
        for a provably empty batch (guard advance, no snapshot)."""
        meta = self._meta()
        if batch_id is not None and batch_id <= meta["last_batch_id"]:
            return meta["current"]

        cur_man = meta["versions"].get(str(meta["current"]), {"buckets": {}})
        nb = self._manifest_n_buckets(cur_man)
        incoming = self._incoming_frame(changes, op_col, seq_col, nb)
        precomputed = touched is not None
        if not precomputed:
            incoming = incoming.persist()
        try:
            if precomputed:
                touched = sorted({str(int(b)) for b in touched}, key=int)
            else:
                touched = [
                    str(r[0])
                    for r in incoming.select("_bucket").distinct().collect()
                ]
            touched = self._widen_touched_for_retype(incoming, cur_man, touched)
            if not touched:
                # empty batch: advance the replay guard, mint no snapshot
                if batch_id is not None:
                    meta["last_batch_id"] = batch_id
                    self._publish(meta)
                return meta["current"]
            merged = self._merged_frame(incoming, cur_man, nb, touched)
            # one file per touched bucket (same small-files discipline as
            # BucketedUpsertTable)
            merged = merged.repartition(max(1, len(touched)), F.col("_bucket"))
            merged = self._cluster(merged)
            stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex[:8]}")
            merged.write.partitionBy("_bucket").parquet(stage)
            new_v = self._mint_version(
                meta,
                cur_man,
                nb,
                touched,
                lambda b: os.path.join(stage, f"_bucket={b}"),
                _nullable_schema(merged.schema).jsonValue(),
                batch_id,
            )
            shutil.rmtree(stage, ignore_errors=True)
            if self.auto_rebucket_bytes:
                # may mint a FURTHER version (the rebucketed layout);
                # the returned version stays the merge's own snapshot
                self.maybe_rebucket()
            return new_v
        finally:
            if not precomputed:
                incoming.unpersist()

    # -- audit / maintenance metadata ---------------------------------------

    def history(self) -> list[dict]:
        """Snapshot audit log (Iceberg ``snapshots``/Delta ``DESCRIBE
        HISTORY`` analog), computed ENTIRELY driver-side from the
        manifests plus parquet footers — zero Spark jobs, so it is
        safe to call from monitoring at any frequency.  Per retained
        version: bucket count, how many data dirs it references, how
        many of those were NEWLY written by that version (the merge's
        touched set — the rest are shared with the prior snapshot),
        and exact row/byte totals from footer metadata.  Footer stats
        are cached per immutable dir name, so repeated calls cost one
        os.stat pass, not re-reads."""
        import pyarrow.parquet as pq

        meta = self._meta()
        cache: dict[str, tuple[int, int]] = getattr(self, "_dir_stats_cache", {})
        self._dir_stats_cache = cache

        def _stats(dname: str) -> tuple[int, int]:
            if dname not in cache:
                rows = size = 0
                full = os.path.join(self.path, dname)
                if os.path.isdir(full):
                    for f in os.listdir(full):
                        if f.endswith(".parquet"):
                            p = os.path.join(full, f)
                            rows += pq.read_metadata(p).num_rows
                            size += os.path.getsize(p)
                cache[dname] = (rows, size)
            return cache[dname]

        out = []
        seen_dirs: set[str] = set()
        for v in sorted(int(x) for x in meta["versions"]):
            man = meta["versions"][str(v)]
            dirs = set(man["buckets"].values())
            rows = size = 0
            for d in dirs:
                r, s = _stats(d)
                rows, size = rows + r, size + s
            out.append(
                {
                    "version": v,
                    "n_buckets": self._manifest_n_buckets(man),
                    "data_dirs": len(dirs),
                    # dirs are immutable and uniquely named, so "newly
                    # written by this version" = first reference across
                    # ALL earlier retained versions — diffing only the
                    # previous one would mislabel a restore()'s reused
                    # dirs (written by the restored-to version) as new
                    "new_dirs": len(dirs - seen_dirs),
                    "rows": rows,  # incl. not-yet-GC'd tombstones
                    "bytes": size,
                    "is_current": v == meta["current"],
                }
            )
            seen_dirs |= dirs
        return out

    # -- incremental consumers --------------------------------------------

    def read_key(self, key_values: list) -> DataFrame | None:
        """Point lookup pruned to ONE bucket: the key's bucket index is
        computable driver-side from the manifest alone, so only that
        bucket's data dir is opened — O(table/n_buckets) scan for any
        key, the bucketed-layout payoff for serving-style reads."""
        meta = self._meta()
        if not meta["versions"]:
            return None
        man = meta["versions"][str(meta["current"])]
        sample = self._read_manifest(man)
        if sample is None:
            return None
        # the bucket index must come from F.hash over the SAME key types
        # the writers hashed — run the bucket expression over a 1-row
        # frame cast to the stored key schema (driver-side, 1-row job)
        typed = sample.limit(0).select(*self.keys)
        row = self.spark.createDataFrame(
            [tuple(key_values)], typed.schema
        ).withColumn("_b", self._bucket_expr(self._manifest_n_buckets(man)))
        b = str(row.collect()[0]["_b"])
        d = man["buckets"].get(b)
        if d is None:
            return self._visible(None)
        df = self._read_dirs(man, [os.path.join(self.path, d)])
        cond = None
        for k, v in zip(self.keys, key_values):
            c = F.col(k) == F.lit(v)
            cond = c if cond is None else (cond & c)
        return self._visible(df.filter(cond))

    # -- secondary-column Bloom skipping ----------------------------------

    @property
    def _bloom_idx_path(self) -> str:
        return os.path.join(self.path, "_bloom_idx")

    def _write_blooms(self, dnames: list[str]) -> None:
        """Append packed Bloom bitsets for the given (immutable, just-
        written) data dirs — one extra scan of exactly the touched
        dirs, the incremental-index-maintenance contract.  A dir whose
        schema lacks a bloom column (pre-evolution data) simply gets no
        rows for it and stays a must-read in read_where()."""
        if not self.bloom_cols or not dnames:
            return
        from qin_cdc_spark.functions.bloom import packed_bloom

        # ONE read across all touched dirs (not a job per dir): the dir
        # name is recovered from input_file_name.  mergeSchema keeps
        # this correct across schema evolution — a dir predating an
        # added column reads as null there, and null rows are dropped
        # below (a NULL can never satisfy an isin() lookup, so skipping
        # a dir that holds only nulls for the column is exact).
        df = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(self.path, d) for d in dnames])
            .withColumn(
                # anchored to the FINAL directory segment: an unanchored
                # pattern would match a d-<12hex> substring anywhere in the
                # table's root path (e.g. /data/prod-1234567890ab/t) and
                # mis-key every unit, silently disabling pruning
                "_unit",
                F.regexp_extract(
                    F.input_file_name(), r"/(d-[0-9a-f]{12})/[^/]*$", 1
                ),
            )
        )
        parts = []
        for c in self.bloom_cols:
            if c not in df.columns:
                continue
            rows = df.filter(F.col(c).isNotNull()).select("_unit", c)
            parts.append(
                packed_bloom(rows, "_unit", c).withColumn("bcol", F.lit(c))
            )
        if not parts:
            return
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        pointer.recover(self._bloom_idx_path)  # append to the restored index
        out.coalesce(1).write.mode("append").parquet(self._bloom_idx_path)

    def read_where(self, col: str, values: list, version: int | None = None):
        """Secondary-column lookup with Bloom data skipping: only the
        data dirs whose Bloom filter can contain one of ``values`` are
        opened (plus any dir with no index rows for ``col`` — absence
        means must-read, never skip, so false negatives are impossible
        even across schema evolution, rebucketing, or a deleted index).
        The PK path is read_key (exact one-bucket math); this is the
        non-key path where the manifest alone can't prune."""
        meta = self._meta()
        if not meta["versions"]:
            return None
        v = meta["current"] if version is None else version
        man = meta["versions"].get(str(v))
        if man is None:
            raise ValueError(
                f"version {v} not retained at {self.path} (have {self.versions()})"
            )
        dirs = set(man["buckets"].values())
        if not dirs:
            return self._visible(None)
        pred = F.col(col).isin(values)
        pointer.recover(self._bloom_idx_path)
        if col not in self.bloom_cols or not os.path.isdir(self._bloom_idx_path):
            full = self._read_manifest(man)
            return self._visible(full.filter(pred)) if full is not None else None
        from qin_cdc_spark.functions.bloom import candidate_units

        idx = self.spark.read.parquet(self._bloom_idx_path).filter(
            (F.col("bcol") == col) & F.col("unit").isin(list(dirs))
        )
        present = {r.unit for r in idx.select("unit").distinct().collect()}
        cands = set(candidate_units(self.spark, idx, values)) & dirs
        read_dirs = sorted(cands | (dirs - present))
        if not read_dirs:
            # provably absent: keep the FULL merged schema (a single
            # arbitrary dir may predate a mid-stream added column and
            # would return an empty frame missing columns the normal
            # mergeSchema path carries), scan nothing real
            empty = self._read_dirs(
                man, [os.path.join(self.path, d) for d in sorted(dirs)]
            ).filter(F.lit(False))
            return self._visible(empty.filter(pred))
        df = self._read_dirs(
            man, [os.path.join(self.path, d) for d in read_dirs]
        )
        return self._visible(df.filter(pred))

    def compact_bloom_index(self) -> None:
        """Rewrite the bloom index keeping only units some retained
        version still references — stale rows from GC'd dirs are
        harmless for correctness (read_where intersects with the
        manifest) but accumulate; this is their expire step."""
        pointer.recover(self._bloom_idx_path)
        if not os.path.isdir(self._bloom_idx_path):
            return
        meta = self._meta()
        live = {
            d for v in meta["versions"].values() for d in v["buckets"].values()
        }
        idx = self.spark.read.parquet(self._bloom_idx_path)
        kept = idx.filter(F.col("unit").isin(list(live)))
        stage = f"{self._bloom_idx_path}.stage-{uuid.uuid4().hex[:8]}"
        kept.coalesce(1).write.parquet(stage)
        pointer.swap(stage, self._bloom_idx_path)

    def changes_between(
        self, v_from: int, v_to: int, *, include_preimage: bool = False
    ) -> DataFrame:
        """Change data feed: per-key net change between two retained
        snapshots as (``_change`` ∈ insert/update/delete, *row columns*
        from the v_to side where present).

        With ``include_preimage=True`` every row also carries the
        v_from values as ``_pre_<col>`` (null for inserts) — the
        Delta-CDF preimage/postimage shape that makes RETRACTABLE
        incremental aggregation possible: a consumer maintains
        sum/count by subtracting the preimage and adding the postimage,
        never rescanning the table.

        Detection rides on the persisted per-key ``_seq`` (every change
        arrives as an event with a new seq) — one full-outer join on
        the key, no value-column comparison.

        ``v_from = 0`` is the empty pre-state (everything in v_to is an
        insert) — the same contract as the partitioned store, so a CDF
        consumer can start from "nothing applied yet" uniformly.

        Cost is O(changed buckets), not O(store): data dirs are
        immutable once published and every mutation mints NEW dir names
        for exactly the buckets it rewrote, so a bucket whose dir name
        is identical in both manifests holds identical rows and can
        contribute no change — the diff reads ONLY buckets whose dir
        differs between the two versions (driver-side manifest math,
        same pruning class as ``read_buckets``).  Unchanged rows never
        appeared in the output anyway (equal ``_seq`` ⇒ no change row),
        so the result is identical; what changes is that a steady-state
        incremental consumer stops re-scanning the whole table per
        refresh.  Falls back to the full two-snapshot diff across a
        ``rebucket`` boundary (bucket ids aren't comparable between
        bucket counts)."""
        a = b = None
        meta = self._meta()
        man_a = meta["versions"].get(str(v_from)) if meta["versions"] else None
        man_b = meta["versions"].get(str(v_to)) if meta["versions"] else None
        if (
            v_from > 0
            and man_a is not None
            and man_b is not None
            and man_a["buckets"]
            and man_b["buckets"]
            and self._manifest_n_buckets(man_a) == self._manifest_n_buckets(man_b)
        ):
            changed = [
                bk
                for bk in set(man_a["buckets"]) | set(man_b["buckets"])
                if man_a["buckets"].get(bk) != man_b["buckets"].get(bk)
            ]
            a = self._read_dirs(
                man_a,
                [
                    os.path.join(self.path, man_a["buckets"][bk])
                    for bk in changed
                    if bk in man_a["buckets"]
                ],
            )
            if a is None:
                # no pre-side bucket changed (all changes are new
                # buckets, or none at all): an EMPTY typed pre-frame —
                # None would mean "empty pre-state ⇒ all inserts"
                a = self._read_manifest(man_a).limit(0)
            b = self._read_dirs(
                man_b,
                [
                    os.path.join(self.path, man_b["buckets"][bk])
                    for bk in changed
                    if bk in man_b["buckets"]
                ],
            )
            if b is None:
                b = self._read_manifest(man_b).limit(0)
        else:
            a = self.read_internal(v_from) if v_from > 0 else None
            b = self.read_internal(v_to)
        if b is None:
            raise ValueError("changes_between: v_to snapshot is empty")
        if a is not None:
            # align the pre side through any column renames recorded in
            # (v_from, v_to]: the key join stays well-formed when a KEY
            # was renamed, and preimages land under the POST names
            # (_pre_<new>) so update messages keep their old values
            # instead of nulling the renamed column.  Simultaneous
            # application (rename_frame) — a recorded swap aligns
            # correctly where sequential withColumnRenamed collides.
            from qin_cdc_spark.streaming.rename_plan import rename_frame

            a = rename_frame(a, self.renames_between(v_from, v_to))
        b_live = b.filter(~F.col("_deleted")).select(
            *[F.col(c) for c in b.columns if c != "_deleted"]
        ).withColumnRenamed("_seq", "_seq_to")
        if a is None:
            out = b_live.withColumn("_change", F.lit("insert")).drop("_seq_to")
            if include_preimage:
                for c in b_live.columns:
                    if c not in self.keys and c != "_seq_to":
                        out = out.withColumn(f"_pre_{c}", F.lit(None))
            return out
        a_value_cols = [
            c for c in a.columns if c not in {*self.keys, "_seq", "_deleted"}
        ]
        a_live = a.filter(~F.col("_deleted")).select(
            *self.keys,
            F.col("_seq").alias("_seq_from"),
            *[F.col(c).alias(f"_pre_{c}") for c in a_value_cols],
        )
        joined = a_live.join(b_live, self.keys, "full_outer")
        change = (
            F.when(F.col("_seq_from").isNull(), F.lit("insert"))
            .when(F.col("_seq_to").isNull(), F.lit("delete"))
            .when(F.col("_seq_from") != F.col("_seq_to"), F.lit("update"))
        )
        out = (
            joined.withColumn("_change", change)
            .filter(F.col("_change").isNotNull())
            .drop("_seq_from", "_seq_to")
        )
        if not include_preimage:
            out = out.drop(*[f"_pre_{c}" for c in a_value_cols])
        return out

    def gc_tombstones(self, min_live_seq: int) -> int:
        """Mint a new version with delete tombstones BELOW the source's
        redelivery low-water mark physically dropped — the versioned
        analog of BucketedUpsertTable.gc_tombstones, and the missing
        piece for a long-running CDC target (every delete and every
        RTBF purge otherwise leaves a tombstone row in its bucket
        FOREVER, inflating reads at 100 TB).

        Safe by construction: (1) CDF delete detection derives from
        live-row ABSENCE between snapshots, not tombstone presence, so
        `changes_between` across the gc'd version is unchanged; (2) LWW
        only needs a tombstone while the source can still redeliver an
        older event for its key — below ``min_live_seq`` (the
        reference's 3-second position-lag window, mysql_position.go:
        150-170) that is impossible by contract.  Tombstones at-or-
        above the mark are KEPT and keep masking redelivery.

        Cost: candidate discovery is DRIVER-SIDE parquet footer stats
        (max(_deleted), min(_seq) per row group — zero Spark jobs, the
        history() discipline); only buckets that actually hold
        droppable tombstones are rewritten (one filtered pass each);
        untouched buckets share their data dirs with the prior version.
        Returns the new version (or the current one when nothing was
        droppable — no empty snapshot is minted)."""
        import pyarrow.parquet as pq

        meta = self._meta()
        if not meta["versions"]:
            return meta["current"]
        man = meta["versions"][str(meta["current"])]
        nb = self._manifest_n_buckets(man)

        def _has_droppable(dname: str) -> bool:
            dd = os.path.join(self.path, dname)
            for f in os.listdir(dd):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(dd, f)).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                if "_deleted" not in idx or "_seq" not in idx:
                    continue
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    sd = g.column(idx["_deleted"]).statistics
                    ss = g.column(idx["_seq"]).statistics
                    if sd is None or ss is None:
                        return True  # no stats: conservatively rewrite
                    if sd.max and ss.min < min_live_seq:
                        return True
            return False

        touched = {
            b: d for b, d in man["buckets"].items() if _has_droppable(d)
        }
        if not touched:
            return meta["current"]
        droppable = F.col("_deleted") & (F.col("_seq") < F.lit(min_live_seq))
        kept = (
            self._read_dirs(
                man, [os.path.join(self.path, d) for d in touched.values()]
            )
            .filter(~droppable)
            .withColumn("_bucket", self._bucket_expr(nb))
        )
        kept = self._cluster(kept.repartition(max(1, len(touched)), F.col("_bucket")))
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex[:8]}")
        kept.write.partitionBy("_bucket").parquet(stage)
        new_buckets = dict(man["buckets"])
        new_dnames = []
        for b in touched:
            src = os.path.join(stage, f"_bucket={b}")
            if os.path.isdir(src):
                dname = f"d-{uuid.uuid4().hex[:12]}"
                os.rename(src, os.path.join(self.path, dname))
                new_buckets[b] = dname
                new_dnames.append(dname)
            else:
                new_buckets.pop(b, None)  # bucket was pure tombstones
        shutil.rmtree(stage, ignore_errors=True)
        self._write_blooms(new_dnames)
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = {"buckets": new_buckets, "n_buckets": nb}
        if self._man_schema(man) is not None:
            meta["versions"][str(new_v)]["schema"] = man["schema"]
        meta["current"] = new_v
        self._publish(meta)
        return new_v

    # -- verbatim-DDL ledger (rename fidelity over the wire) ----------------

    def attach_ddl(self, sqls: list[str]) -> None:
        """Record upstream DDL statements against the CURRENT version —
        the durable half of verbatim DDL forwarding (VERDICT r8 #1):
        the egress emitter replays these over the wire instead of
        re-deriving a name-based diff, so an upstream RENAME COLUMN
        crosses as a rename (values intact downstream), not DROP+ADD.
        The ledger lives in the manifest (``ddl_log``: [version, sql]
        pairs), so it survives restarts and gc() — statements are rare
        and tiny, so the log is unbounded by design.  Idempotent under
        replay: an already-recorded (version, sql) pair is skipped."""
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
        """Verbatim DDL statements recorded by versions in
        ``(v_from, v_to]``, in application order — what an egress
        emission covering that range forwards as control messages."""
        return [
            s for v, s in self._meta().get("ddl_log", []) if v_from < v <= v_to
        ]

    def renames_between(self, v_from: int, v_to: int) -> dict[str, str]:
        """Cumulative old→new column mapping applied by rename versions
        in ``(v_from, v_to]`` (function composition: a→b then b→c gives
        a→c, and a recorded SWAP composes correctly — the old
        entry-by-entry fold silently dropped half of one).  Recorded
        top-level in the manifest (``renames``) so gc() of the
        intermediate versions cannot lose the alignment a CDF across
        the boundary needs."""
        from qin_cdc_spark.streaming.rename_plan import compose_renames

        out: dict[str, str] = {}
        for v, ren in self._meta().get("renames", []):
            if not (v_from < v <= v_to):
                continue
            out = compose_renames(out, dict(ren))
        return out

    def rename_columns(
        self,
        mapping: dict[str, str],
        *,
        missing_ok: bool = False,
        stmt_id=None,
    ) -> int:
        """Column rename as a NEW version: the current snapshot
        rewrites under the new names (parquet matches columns by name,
        so a metadata-only rename would split old/new dirs into two
        columns under mergeSchema), older versions keep their dirs and
        their old names (time travel stays honest), and the rename
        records top-level so ``changes_between`` across the boundary
        aligns the pre side before diffing.  Key columns may be renamed
        — ``keys``/``bucket_cols``/``sort_cols``/``bloom_cols`` follow,
        and bucket placement is value-hashed so no row moves.

        The mapping applies SIMULTANEOUSLY (rename_plan.py — ADVICE r9
        + the round-10 swap finding: identity retypes no-op, freed-name
        chains apply, column SWAPS work, ``missing_ok=True`` skips a
        column added-then-renamed before ever materializing).  Replay
        idempotence: acyclic mappings are detected from the column set
        (no version minted); a SWAP's replay is not set-detectable, so
        ``stmt_id`` (the upstream DDL row's seq) is recorded in the
        manifest ATOMICALLY with the rename version and a matching
        replay returns the current version untouched.  Cost: O(current
        snapshot) — ONE full rewrite, the same class as rebucket; on a
        production Delta/Iceberg target a rename is metadata-only
        (column IDs) and this rewrite disappears.  Reference analog:
        DDL mutates the Table struct, never data
        (metas/mysql_ddl_parse.go:99-376)."""
        from qin_cdc_spark.streaming.rename_plan import (
            plan_renames,
            rename_frame,
        )

        meta = self._meta()
        if stmt_id is not None and stmt_id in meta.get("rename_stmts", []):
            return meta["current"]
        full = self.read_internal()
        if full is None:
            raise ValueError(f"rename_columns: no current snapshot at {self.path}")
        effective = plan_renames(full.columns, mapping, missing_ok=missing_ok)
        self.keys = [mapping.get(k, k) for k in self.keys]
        self.bucket_cols = [mapping.get(k, k) for k in self.bucket_cols]
        self.sort_cols = [mapping.get(k, k) for k in self.sort_cols]
        self.bloom_cols = [mapping.get(k, k) for k in self.bloom_cols]
        if not effective:
            return meta["current"]
        man = meta["versions"][str(meta["current"])]
        nb = self._manifest_n_buckets(man)
        rows = rename_frame(full, effective)
        rows = rows.withColumn("_bucket", self._bucket_expr(nb))
        rows = self._cluster(rows.repartition(nb, F.col("_bucket")))
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex[:8]}")
        rows.write.partitionBy("_bucket").parquet(stage)
        new_buckets: dict[str, str] = {}
        new_dnames = []
        for b in range(nb):
            src = os.path.join(stage, f"_bucket={b}")
            if os.path.isdir(src):
                dname = f"d-{uuid.uuid4().hex[:12]}"
                os.rename(src, os.path.join(self.path, dname))
                new_buckets[str(b)] = dname
                new_dnames.append(dname)
        shutil.rmtree(stage, ignore_errors=True)
        self._write_blooms(new_dnames)
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = {
            "buckets": new_buckets,
            "n_buckets": nb,
            "schema": _nullable_schema(rows.schema).jsonValue(),
        }
        meta["current"] = new_v
        meta.setdefault("renames", []).append([new_v, effective])
        if stmt_id is not None:
            meta.setdefault("rename_stmts", []).append(stmt_id)
        # a rename invalidates the memoized merge-shape probe
        self._merge_sig = None
        self._publish(meta)
        return new_v

    def restore(self, version: int) -> int:
        """Roll the table back to snapshot ``version`` by minting a NEW
        version whose manifest is a copy of the old one (Delta RESTORE):
        zero data movement — the restored snapshot shares every data dir
        with the original — and history after the bad version stays
        readable until ``gc()`` expires it."""
        meta = self._meta()
        man = meta["versions"].get(str(version))
        if man is None:
            raise ValueError(
                f"restore: version {version} not retained at {self.path} "
                f"(have {self.versions()})"
            )
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = {
            "buckets": dict(man["buckets"]),
            "n_buckets": self._manifest_n_buckets(man),
        }
        if self._man_schema(man) is not None:
            meta["versions"][str(new_v)]["schema"] = man["schema"]
        meta["current"] = new_v
        self._publish(meta)
        return new_v

    def maybe_rebucket(
        self,
        *,
        target_bucket_bytes: int | None = None,
        max_n_buckets: int = 4096,
    ) -> int | None:
        """Auto-rebucket policy (VERDICT r10 #4): rewrite to the
        smallest power-of-two bucket-count multiple that brings mean
        bucket bytes back under ``target_bucket_bytes`` (default: the
        constructor's ``auto_rebucket_bytes``), capped at
        ``max_n_buckets``.  The DECISION is driver-side os.stat over
        the current manifest's data dirs — zero Spark jobs below the
        threshold, so calling this after every merge is free until the
        day it fires.  Returns the rebucketed version, or None when the
        layout is already within target.

        Why: bucket count is fixed at creation while the table grows —
        at 100 TB a 32-bucket layout makes every touched-bucket merge
        rewrite ~3 TB and every CDF-pruned read open multi-TB dirs.
        Doubling keeps the rewrite count logarithmic in growth; the CDF
        falls back to one full diff across the boundary (bucket ids
        aren't comparable between counts — tested), then prunes again
        at the new granularity."""
        target = target_bucket_bytes or self.auto_rebucket_bytes
        if not target:
            return None
        meta = self._meta()
        if not meta["versions"]:
            return None
        man = meta["versions"][str(meta["current"])]
        nb = self._manifest_n_buckets(man)
        if nb >= max_n_buckets or not man["buckets"]:
            return None
        total = 0
        for d in set(man["buckets"].values()):
            full = os.path.join(self.path, d)
            if os.path.isdir(full):
                for f in os.listdir(full):
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(full, f))
        if total <= target * nb:
            return None
        new_nb = nb
        while new_nb < max_n_buckets and total > target * new_nb:
            new_nb *= 2
        return self.rebucket(new_nb)

    def rebucket(self, new_n_buckets: int) -> int:
        """Bucket-count evolution: rewrite the CURRENT snapshot under a
        new bucket count and mint it as a new version (Iceberg's bucket
        partition-spec evolution; Delta has no analog short of a full
        CLONE).  Needed when the key population outgrows the layout —
        e.g. 32 buckets chosen at 1 TB make each bucket 3 TB at 100 TB,
        and every touched-bucket merge rewrites 3 TB.

        Cost: ONE full-table rewrite (unavoidable — every row's bucket
        assignment changes), after which merges are O(touched buckets)
        at the new granularity.  History stays readable: older versions
        keep their manifests, data dirs, and their own recorded bucket
        count, so ``read_at``/``changes_between`` across the boundary
        work unchanged and ``read_key`` always hashes with the CURRENT
        manifest's count.  Tombstones are carried through (they still
        shield replayed deletes until gc'd)."""
        if new_n_buckets < 1:
            raise ValueError(f"rebucket: need >= 1 bucket, got {new_n_buckets}")
        meta = self._meta()
        full = self.read_internal()
        if full is None:
            raise ValueError(f"rebucket: no current snapshot at {self.path}")
        rows = full.withColumn("_bucket", self._bucket_expr(new_n_buckets))
        # hash on _bucket alone keeps every bucket in one task (one file
        # per bucket dir); no fixed task count, so AQE sizes the write
        # by bytes instead of running one task per bucket (4096 mostly
        # empty tasks for a small table at the policy's cap)
        rows = rows.repartition(F.col("_bucket"))
        rows = self._cluster(rows)
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex[:8]}")
        rows.write.partitionBy("_bucket").parquet(stage)
        new_buckets: dict[str, str] = {}
        for b in range(new_n_buckets):
            src = os.path.join(stage, f"_bucket={b}")
            if os.path.isdir(src):
                dname = f"d-{uuid.uuid4().hex[:12]}"
                os.rename(src, os.path.join(self.path, dname))
                new_buckets[str(b)] = dname
        shutil.rmtree(stage, ignore_errors=True)
        self._write_blooms(list(new_buckets.values()))
        new_v = meta["current"] + 1
        meta["versions"][str(new_v)] = {
            "buckets": new_buckets,
            "n_buckets": new_n_buckets,
            "schema": _nullable_schema(rows.schema).jsonValue(),
        }
        meta["current"] = new_v
        self._publish(meta)
        return new_v

    # -- retention ---------------------------------------------------------

    def gc(
        self, *, keep_last: int = 0, keep_versions: set[int] | None = None
    ) -> list[int]:
        """Expire snapshots; returns the expired version numbers.
        Retained = the newest ``keep_last`` PLUS everything in
        ``keep_versions`` (a coordinator's still-referenced set — see
        SnapshotCoordinator.expire_and_gc, which passes it so a
        coordinate can never name a gc'd version even when table
        versions were minted outside coordinated batches).  The current
        version is always retained.  Data dirs still referenced by a
        retained version survive (file reuse makes this the common
        case); the rest are deleted by the publish GC."""
        meta = self._meta()
        vs = sorted(int(v) for v in meta["versions"])
        keep = set(keep_versions or ())
        keep.add(meta["current"])
        if keep_last > 0:
            keep.update(vs[-keep_last:])
        expire = [v for v in vs if v not in keep]
        for v in expire:
            del meta["versions"][str(v)]
        if expire:
            self._publish(meta)
        return expire
