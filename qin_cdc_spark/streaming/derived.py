"""Incrementally-maintained derived aggregate (materialized view) over
a versioned CDC target.

``RollupStore`` maintains continuous aggregates from an APPEND stream —
additive merges only.  A synced CDC table also mutates: updates move
rows between groups and deletes retract them, which additive merges
cannot express.  ``DerivedAggTable`` closes that gap using the
versioned table's change data feed WITH PREIMAGES
(``VersionedBucketedTable.changes_between(…, include_preimage=True)``):

* insert   → (+1, +value) into the postimage's group
* delete   → (−1, −pre_value) into the preimage's group
* update   → BOTH rows — retract from the preimage group, add to the
  postimage group (covers group-moving updates)

The per-refresh cost is O(|delta| + |touched groups|): the CDF is
bounded by what changed, the delta pre-aggregates map-side, and the
merge touches only the groups the delta names.  Aggregates must be
retractable (count, sum; avg = sum/cnt downstream) — min/max need a
rescan on retraction and are deliberately not offered.  Use integer
(cents-quantized) value columns: float sums under retraction reorder
arbitrarily, the repo-wide cross-engine lesson (PLANS.md).

Publish discipline, shared by every view here: state lives in
immutable, uniquely named data dirs, and one pointer file names the
live dirs together with the source version(s) folded into them.  A
refresh writes its new dirs, then flips the pointer through
``streaming/pointer.py`` (flip first, then sweep the dirs it no longer
names).  A crashed refresh leaves the previous state and version
intact and replays from the same CDF range.  ``DerivedJoinTable``'s
pointer holds only versions (its rows live in a flat bucketed table);
``DerivedKeyedAggTable`` needs no pointer of its own, because its
state and progress commit in one manifest flip.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from qin_cdc_spark.streaming import pointer
from qin_cdc_spark.streaming.versioned import VersionedBucketedTable

META_NAME = "_derived_meta.json"


class _PointerView:
    """A view that rewrites its whole (view-sized) state each refresh:
    one data dir named by a ``{"applied_version", "data"}`` pointer.
    Subclasses set only the pointer-file name and the data-dir prefix."""

    POINTER: str
    PREFIX: str

    def _meta(self) -> dict:
        return pointer.load(
            self.path, self.POINTER, {"applied_version": 0, "data": None}
        )

    def _publish(self, meta: dict) -> None:
        pointer.publish(self.path, self.POINTER, meta)
        pointer.sweep(self.path, f"{self.PREFIX}-", {meta["data"]})

    def applied_version(self) -> int:
        return self._meta()["applied_version"]

    def _state(self) -> DataFrame | None:
        data = self._meta()["data"]
        if data is None:
            return None
        return self.spark.read.parquet(os.path.join(self.path, data))

    def read(self) -> DataFrame | None:
        return self._state()

    def _commit(self, state: DataFrame, version: int) -> int:
        """Write ``state`` to a fresh data dir and publish it as the
        view as of source ``version``."""
        dname = f"{self.PREFIX}-{uuid.uuid4().hex[:12]}"
        state.write.parquet(os.path.join(self.path, dname))
        self._publish({"applied_version": version, "data": dname})
        return version

    def _rename_pointer_state(self, state_map: dict[str, str]) -> None:
        """Rewrite the published state under renamed column names.
        The state is view-sized (per-group aggregates), so the rewrite
        is O(|view|), not O(source).  Idempotent under replay:
        already-renamed state plans zero steps and publishes nothing
        (rename_plan.py)."""
        from qin_cdc_spark.streaming.rename_plan import plan_renames, rename_frame

        df = self._state() if state_map else None
        if df is None:
            return
        applied = plan_renames(df.columns, state_map, missing_ok=True)
        if applied:
            self._commit(rename_frame(df, applied), self.applied_version())


class DerivedAggTable(_PointerView):
    """(group_cols → cnt, sum_<col>…) maintained from a CDF."""

    POINTER, PREFIX = META_NAME, "agg"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        sum_cols: list[str],
    ):
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream column rename on the SOURCE table: the
        view's column spec re-binds and its persisted state rewrites
        under the new names (state group columns carry the source name
        raw; sum columns as ``sum_<col>``), so the next refresh's CDF —
        already aligned to the new names by the source store — folds
        into matching state.  Declared-MV routes call this from the
        pipeline's rename listener (VERDICT r9 #2); reference analog:
        transforms rewrite the router's column list so downstream
        consumers follow renames (transforms/transforms.go:22-32)."""
        state_map = {o: n for o, n in mapping.items() if o in self.group_cols}
        state_map.update(
            {
                f"sum_{o}": f"sum_{n}"
                for o, n in mapping.items()
                if o in self.sum_cols
            }
        )
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.sum_cols = [mapping.get(c, c) for c in self.sum_cols]
        self._rename_pointer_state(state_map)

    # -- refresh -----------------------------------------------------------

    def _delta(self, cdf: DataFrame) -> DataFrame:
        """Signed (group, dcnt, dsum_*) rows from a preimage CDF."""
        add = cdf.filter(F.col("_change").isin("insert", "update")).select(
            *self.group_cols,
            F.lit(1).cast("long").alias("dcnt"),
            *[F.col(c).cast("long").alias(f"dsum_{c}") for c in self.sum_cols],
        )
        retract = cdf.filter(F.col("_change").isin("update", "delete")).select(
            *[F.col(f"_pre_{g}").alias(g) for g in self.group_cols],
            F.lit(-1).cast("long").alias("dcnt"),
            *[
                (-F.col(f"_pre_{c}").cast("long")).alias(f"dsum_{c}")
                for c in self.sum_cols
            ],
        )
        return (
            add.unionByName(retract)
            .groupBy(*self.group_cols)
            .agg(
                F.sum("dcnt").alias("dcnt"),
                *[F.sum(f"dsum_{c}").alias(f"dsum_{c}") for c in self.sum_cols],
            )
        )

    def refresh(self, source: VersionedBucketedTable) -> int:
        """Fold every source version past ``applied_version`` into the
        aggregate; returns the new applied version.  Idempotent: a
        repeated call sees an empty CDF range and no-ops."""
        meta = self._meta()
        v_from, v_to = meta["applied_version"], source.current_version()
        if v_to <= v_from:
            return v_from
        if v_from == 0:
            # bootstrap: aggregate the snapshot directly (no prior state)
            base = source.read_at(v_to)
            delta = base.groupBy(*self.group_cols).agg(
                F.count(F.lit(1)).alias("dcnt"),
                *[
                    F.sum(F.col(c).cast("long")).alias(f"dsum_{c}")
                    for c in self.sum_cols
                ],
            )
        else:
            delta = self._delta(
                source.changes_between(v_from, v_to, include_preimage=True)
            )
        cur = self.read()
        if cur is None:
            merged = delta
        else:
            merged = (
                cur.select(
                    *self.group_cols,
                    F.col("cnt").alias("dcnt"),
                    *[F.col(f"sum_{c}").alias(f"dsum_{c}") for c in self.sum_cols],
                )
                .unionByName(delta)
                .groupBy(*self.group_cols)
                .agg(
                    F.sum("dcnt").alias("dcnt"),
                    *[F.sum(f"dsum_{c}").alias(f"dsum_{c}") for c in self.sum_cols],
                )
            )
        out = merged.filter(F.col("dcnt") > 0).select(
            *self.group_cols,
            F.col("dcnt").alias("cnt"),
            *[F.col(f"dsum_{c}").alias(f"sum_{c}") for c in self.sum_cols],
        )
        return self._commit(out, v_to)


JOIN_META_NAME = "_derived_join_meta.json"


class DerivedJoinTable:
    """Incrementally-maintained JOIN materialized view over TWO
    versioned CDC targets — fact ⋈ dim kept current from both change
    feeds, the delta-join rule specialised to LWW PK tables:

    * ΔFACT (CDF): inserted/updated fact rows re-join against the
      CURRENT dim snapshot; deleted fact keys delete their MV row.
    * ΔDIM (CDF): only facts REFERENCING a changed dim key can change
      — the fact side is probed with the (small) set of changed dim
      keys and exactly those rows re-join.  A dim delete makes its
      referencing facts drop out of the inner join → MV deletes.

    Per-refresh cost is O(|Δfact| + |facts referencing Δdim keys| +
    touched MV buckets) — never a recompute of the join.  The probe
    for affected facts is the one place a fact-table scan could hide:
    with ``bloom_cols=[join_col]`` on the fact table and a Δdim key
    set small enough to ship driver-side, ``read_where`` prunes the
    probe to the data dirs whose Bloom filters can contain a changed
    key; otherwise it is a broadcast-able semi-join against the Δkey
    set (tiny relation — Catalyst/AQE broadcasts it), a single pass
    that at cluster scale rides the fact table's own partitioning.

    The MV itself is a hash-bucketed LWW upsert table keyed by the
    fact PK (each fact row joins at most one dim row — dim is keyed
    by the join column), so applying a refresh rewrites only touched
    buckets.  Idempotence/crash safety: the meta JSON records the
    (fact, dim) versions applied; a crash between merge and publish
    replays the same CDF range and converges because the merge is
    LWW on a per-refresh seq.

    Reference parity note: the reference streams each table to its
    own target (outputs/starrocks/starrocks.go:64-129) and leaves
    join materialization to the downstream warehouse; this closes
    that loop engine-side, incrementally.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        fact_keys: list[str],
        join_col: str,
        dim_key: str,
        n_buckets: int = 32,
        probe_limit: int = 10_000,
    ):
        from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

        self.spark = spark
        self.path = path
        self.fact_keys = list(fact_keys)
        self.join_col = join_col
        self.dim_key = dim_key
        # changed-dim-key sets up to this size ship driver-side into
        # the fact table's Bloom-pruned read_where; larger deltas fall
        # back to the semi-join (still one pass, no collect)
        self.probe_limit = probe_limit
        self.mv = BucketedUpsertTable(
            spark, os.path.join(path, "mv"), self.fact_keys, n_buckets=n_buckets
        )

    # -- meta --------------------------------------------------------------

    def _meta(self) -> dict:
        return pointer.load(
            self.path,
            JOIN_META_NAME,
            {"applied_fact": 0, "applied_dim": 0, "refresh_n": 0},
        )

    def _publish(self, meta: dict) -> None:
        pointer.publish(self.path, JOIN_META_NAME, meta)

    def applied_versions(self) -> tuple[int, int]:
        m = self._meta()
        return (m["applied_fact"], m["applied_dim"])

    def read(self) -> DataFrame | None:
        return self.mv.read()

    # -- refresh -----------------------------------------------------------

    def _join_rows(self, facts: DataFrame, dim: DataFrame) -> DataFrame:
        """LEFT-join recompute rows against the current dim snapshot;
        ``_matched`` marks rows that survive the inner-join MV."""
        overlap = (set(facts.columns) & set(dim.columns)) - {self.join_col}
        if overlap:
            raise ValueError(
                f"DerivedJoinTable: fact/dim column collision {sorted(overlap)}"
                " — rename dim columns upstream"
            )
        d = dim.withColumn("_matched", F.lit(True))
        # drop the DIM side's key by reference — when join_col and
        # dim_key share a name, drop-by-name would remove both copies
        return facts.join(
            d, facts[self.join_col] == d[self.dim_key], "left"
        ).drop(d[self.dim_key])

    def refresh(
        self, fact: VersionedBucketedTable, dim: VersionedBucketedTable
    ) -> tuple[int, int]:
        """Fold all fact/dim versions past the applied pair into the
        MV; returns the newly applied (fact_version, dim_version)."""
        meta = self._meta()
        fv0, dv0 = meta["applied_fact"], meta["applied_dim"]
        fv1, dv1 = fact.current_version(), dim.current_version()
        if fv1 <= fv0 and dv1 <= dv0:
            return (fv0, dv0)
        seq = meta["refresh_n"] + 1
        dim_now = dim.read()
        if dim_now is None or fact.read() is None:
            raise ValueError(
                "DerivedJoinTable.refresh: both sources need a snapshot "
                "(merge fact and dim at least once before refreshing)"
            )

        if fv0 == 0 and dv0 == 0:
            # bootstrap: inner join of the two current snapshots
            recompute, fact_deletes = fact.read(), None
        else:
            dl = fact.changes_between(fv0, fv1) if fv1 > fv0 else None
            fact_cols = fact.read().columns
            if dl is not None:
                fact_deletes = dl.filter(F.col("_change") == "delete").select(
                    *self.fact_keys
                )
                up = dl.filter(F.col("_change") != "delete").select(*fact_cols)
            else:
                fact_deletes, up = None, None

            affected = None
            if dv1 > dv0:
                dkeys = (
                    dim.changes_between(dv0, dv1)
                    .select(F.col(self.dim_key).alias("_dk"))
                    .distinct()
                )
                probe = None
                if self.join_col in fact.bloom_cols:
                    vals = [r[0] for r in dkeys.limit(self.probe_limit + 1).collect()]
                    if len(vals) <= self.probe_limit:
                        try:
                            probe = fact.read_where(self.join_col, vals)
                        except TypeError:
                            # the Bloom key renderer is restricted to
                            # int/str; any other key type falls through
                            # to the semi-join rather than failing the
                            # refresh
                            probe = None
                if probe is None:
                    # semi-join fallback: Δkey set is small — AQE
                    # broadcasts it; one pass over the fact table
                    probe = fact.read().join(
                        F.broadcast(dkeys),
                        F.col(self.join_col) == F.col("_dk"),
                        "left_semi",
                    )
                affected = probe.select(*fact_cols)
                if up is not None:
                    # Δfact rows re-join anyway — don't recompute twice
                    affected = affected.join(
                        up.select(*self.fact_keys), self.fact_keys, "left_anti"
                    )
            parts = [p for p in (up, affected) if p is not None]
            recompute = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

        joined = self._join_rows(recompute, dim_now)
        value_cols = [
            c for c in joined.columns if c not in {*self.fact_keys, "_matched"}
        ]
        changes = joined.select(
            F.when(F.col("_matched"), F.lit("upsert"))
            .otherwise(F.lit("delete"))
            .alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            *self.fact_keys,
            *value_cols,
        )
        if fact_deletes is not None:
            changes = changes.unionByName(
                fact_deletes.select(
                    F.lit("delete").alias("op"),
                    F.lit(seq).cast("long").alias("seq"),
                    *self.fact_keys,
                ),
                allowMissingColumns=True,
            )
        self.mv.merge(changes)
        self._publish({"applied_fact": fv1, "applied_dim": dv1, "refresh_n": seq})
        return (fv1, dv1)


EXTREMA_META_NAME = "_derived_extrema_meta.json"


class DerivedExtremaTable(_PointerView):
    """Incrementally-maintained per-group (count, min, max) — the
    classic HARD case of materialized-view maintenance: min/max are
    not retractable (removing the current extremum says nothing about
    the runner-up), which is exactly why ``DerivedAggTable``
    deliberately excludes them.  This closes that gap with the
    textbook bounded-rescan design:

    * additions (CDF inserts / update-postimages) fold in for free:
      ``min(old, incoming)`` / ``max(old, incoming)``, count adds;
    * retractions (deletes / update-preimages) only endanger a group
      when a retracted value TIES the group's stored extremum — those
      groups (and only those) are RESCANNED against the v_to snapshot
      for an exact recompute; every other group takes the O(1) merge.

    Per-refresh cost: O(|delta| + Σ size of rescanned groups).  The
    rescan probe is where a table scan could hide, so it takes the
    same two-tier shape as ``DerivedJoinTable``'s Δdim probe: with
    ``bloom_cols=[group_col]`` on the source and a driver-shippable
    rescan-group set, ``read_where`` prunes the scan to the data dirs
    whose Bloom filters can contain an endangered group; otherwise a
    broadcast semi-join (the rescan set is small by construction —
    only groups whose extremum was hit).  Worst case (every retraction
    hits an extremum — e.g. a monotonically-shrinking table) degrades
    to the recompute of exactly the shrinking groups, never the whole
    view.

    NULL handling matches SQL aggregates: nulls never become extrema
    and their retraction never forces a rescan; ``cnt`` counts rows.
    """

    POINTER, PREFIX = EXTREMA_META_NAME, "ext"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        minmax_cols: list[str],
        probe_limit: int = 10_000,
    ):
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.minmax_cols = list(minmax_cols)
        self.probe_limit = probe_limit

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream source-column rename (see
        DerivedAggTable.rename_columns): state carries group names raw
        and extrema as ``min_<col>``/``max_<col>``."""
        state_map = {o: n for o, n in mapping.items() if o in self.group_cols}
        for o, n in mapping.items():
            if o in self.minmax_cols:
                state_map[f"min_{o}"] = f"min_{n}"
                state_map[f"max_{o}"] = f"max_{n}"
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.minmax_cols = [mapping.get(c, c) for c in self.minmax_cols]
        self._rename_pointer_state(state_map)

    # -- refresh -----------------------------------------------------------

    def _full_agg(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("cnt"),
            *[F.min(c).alias(f"min_{c}") for c in self.minmax_cols],
            *[F.max(c).alias(f"max_{c}") for c in self.minmax_cols],
        )

    def _rescan_rows(
        self, source: VersionedBucketedTable, groups: DataFrame, version: int
    ):
        """Rows of the endangered groups AS OF the v_to snapshot the CDF
        range ends at (not "current" — a concurrent merge mid-refresh
        must not bleed into this refresh's recompute) — Bloom-pruned
        when a single group column is indexed and the set ships."""
        if len(self.group_cols) == 1 and self.group_cols[0] in source.bloom_cols:
            g = self.group_cols[0]
            vals = [r[0] for r in groups.limit(self.probe_limit + 1).collect()]
            if len(vals) <= self.probe_limit:
                try:
                    return source.read_where(g, vals, version=version)
                except TypeError:
                    pass  # non-int/str group key: semi-join fallback
        return source.read_at(version).join(
            F.broadcast(groups), self.group_cols, "left_semi"
        )

    def refresh(self, source: VersionedBucketedTable) -> int:
        meta = self._meta()
        v0, v1 = meta["applied_version"], source.current_version()
        if v1 <= v0:
            return v0
        if v0 == 0 or meta["data"] is None:
            out = self._full_agg(source.read_at(v1))
        else:
            cdf = source.changes_between(v0, v1, include_preimage=True)
            add = (
                cdf.filter(F.col("_change").isin("insert", "update"))
                .groupBy(*self.group_cols)
                .agg(
                    F.count(F.lit(1)).alias("n_add"),
                    *[F.min(c).alias(f"amin_{c}") for c in self.minmax_cols],
                    *[F.max(c).alias(f"amax_{c}") for c in self.minmax_cols],
                )
            )
            ret = (
                cdf.filter(F.col("_change").isin("update", "delete"))
                .select(
                    *[F.col(f"_pre_{g}").alias(g) for g in self.group_cols],
                    *[
                        F.col(f"_pre_{c}").alias(c)
                        for c in self.minmax_cols
                    ],
                )
                .groupBy(*self.group_cols)
                .agg(
                    F.count(F.lit(1)).alias("n_ret"),
                    *[F.min(c).alias(f"rmin_{c}") for c in self.minmax_cols],
                    *[F.max(c).alias(f"rmax_{c}") for c in self.minmax_cols],
                )
            )
            cur = self.read()
            j = (
                cur.join(add, self.group_cols, "full_outer")
                .join(ret, self.group_cols, "full_outer")
                .select(
                    *self.group_cols,
                    *[F.col(c) for c in cur.columns if c not in self.group_cols],
                    *[F.col(c) for c in add.columns if c not in self.group_cols],
                    *[F.col(c) for c in ret.columns if c not in self.group_cols],
                )
            )
            cnt_new = (
                F.coalesce("cnt", F.lit(0))
                + F.coalesce("n_add", F.lit(0))
                - F.coalesce("n_ret", F.lit(0))
            )
            # rescan iff a retracted NON-NULL value could displace a
            # stored extremum.  Three triggers per column:
            #   * ties the stored min/max (the classic case — `<=`/`>=`
            #     rather than `==` also covers a value inserted AND
            #     retracted within this range that undercut the stored
            #     extremum without ever being stored);
            #   * the stored extremum is NULL — either an all-null group
            #     or a group BORN inside this range (absent from `cur`),
            #     where the additive amin/amax may include since-
            #     retracted values and only a recompute is exact.
            # A null retraction never triggers (SQL semantics: nulls are
            # not extrema), hence the rmin-isNotNull guard.
            endangered = F.lit(False)
            for c in self.minmax_cols:
                endangered = endangered | (
                    F.col(f"rmin_{c}").isNotNull()
                    & (
                        F.col(f"min_{c}").isNull()
                        | (F.col(f"rmin_{c}") <= F.col(f"min_{c}"))
                        | (F.col(f"rmax_{c}") >= F.col(f"max_{c}"))
                    )
                )
            j = j.withColumn("_cnt_new", cnt_new).withColumn(
                "_rescan", F.coalesce(endangered, F.lit(False))
            )
            j = j.persist()  # branches below split it 3 ways
            try:
                rescan_groups = (
                    j.filter(F.col("_rescan") & (F.col("_cnt_new") > 0))
                    .select(*self.group_cols)
                )
                # driver-side emptiness check over the CACHED join (the
                # rescan set is bounded by touched groups): the common
                # no-endangered-group refresh must not pay — or even
                # plan — a pass over the source table.  Tests monkeypatch
                # _rescan_rows to assert this path is never taken for
                # non-tying retractions.
                if rescan_groups.limit(1).count() == 0:
                    rescanned = self._full_agg(
                        source.read_at(v1).limit(0)
                    )
                else:
                    rescanned = self._full_agg(
                        self._rescan_rows(source, rescan_groups, v1)
                    )
                merged = j.filter(~F.col("_rescan") & (F.col("_cnt_new") > 0)).select(
                    *self.group_cols,
                    F.col("_cnt_new").cast("long").alias("cnt"),
                    *[
                        F.least(F.col(f"min_{c}"), F.col(f"amin_{c}")).alias(
                            f"min_{c}"
                        )
                        for c in self.minmax_cols
                    ],
                    *[
                        F.greatest(F.col(f"max_{c}"), F.col(f"amax_{c}")).alias(
                            f"max_{c}"
                        )
                        for c in self.minmax_cols
                    ],
                )
                return self._commit(merged.unionByName(rescanned), v1)
            finally:
                j.unpersist()
        return self._commit(out, v1)


QUANTILE_META_NAME = "_derived_quantile_meta.json"


class DerivedQuantileTable(_PointerView):
    """Incrementally-maintained per-group binned quantile histogram —
    the retractable answer to percentile maintenance.  Exact order
    statistics are not retractable (like min/max they need a rescan
    when the current answer is removed), but a FIXED-BIN histogram is:
    its state is per-(group, bin) counts, and counts subtract.  Every
    delete/update retraction folds in O(1) with NO rescan path at all —
    the trade is the answer's precision (quantile upper bounds with
    error ≤ ``bin_width``), the same trade ``sketch_quantile_bins``
    makes for one-shot corpus stats (corpus_ops.py), here kept current
    under mutation.

    Bins are exact integer floor-division of an integer value column
    (``(v - pmod(v, w)) div w`` — sign-correct floor, bit-portable), so
    both the state and the published quantile walk are hash-checkable
    against a from-scratch SQL recompute — no float anywhere, the
    repo-wide cross-engine discipline.  NULL values never count.

    Per-refresh cost: O(|delta| + touched (group, bin) rows); state is
    |groups|·|occupied bins| rows (bins are sparse — only occupied ones
    exist).  ``read`` returns that state: (group_cols…, bin, cnt).

    Completes the retractable-MV family: sum/count
    (``DerivedAggTable``), min/max (``DerivedExtremaTable``), distinct
    counts (``DerivedDistinctTable``), quantiles here — the reference
    (Go CDC plumbing) leaves all of these to the downstream warehouse.
    """

    POINTER, PREFIX = QUANTILE_META_NAME, "qb"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        value_col: str,
        bin_width: int,
    ):
        if bin_width <= 0:
            raise ValueError("bin_width must be positive")
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.bin_width = int(bin_width)

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream source-column rename: state rows are
        (group…, bin, cnt) — only group names appear; the value column
        re-binds in the spec alone."""
        state_map = {o: n for o, n in mapping.items() if o in self.group_cols}
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.value_col = mapping.get(self.value_col, self.value_col)
        self._rename_pointer_state(state_map)

    def _bin(self, col) -> F.Column:
        # exact floor division for any sign and any int64 magnitude:
        # the numerator is an exact multiple of the width, so SQL's
        # truncating `div` equals floor — and unlike `/` (double
        # division) it never rounds above 2^53
        w = self.bin_width
        return F.expr(
            f"(cast(`{col}` as bigint) - pmod(cast(`{col}` as bigint), "
            f"cast({w} as bigint))) div cast({w} as bigint)"
        ).cast("long")

    # -- refresh -----------------------------------------------------------

    def _delta(self, cdf: DataFrame) -> DataFrame:
        """Signed (group, bin, dcnt) from a preimage CDF; NULL values
        drop out on both sides."""
        add = (
            cdf.filter(F.col("_change").isin("insert", "update"))
            .filter(F.col(self.value_col).isNotNull())
            .select(
                *self.group_cols,
                self._bin(self.value_col).alias("bin"),
                F.lit(1).alias("d"),
            )
        )
        retract = (
            cdf.filter(F.col("_change").isin("update", "delete"))
            .filter(F.col(f"_pre_{self.value_col}").isNotNull())
            .select(
                *[F.col(f"_pre_{g}").alias(g) for g in self.group_cols],
                self._bin(f"_pre_{self.value_col}").alias("bin"),
                F.lit(-1).alias("d"),
            )
        )
        return (
            add.unionByName(retract)
            .groupBy(*self.group_cols, "bin")
            .agg(F.sum("d").cast("long").alias("dcnt"))
            .filter(F.col("dcnt") != 0)
        )

    def refresh(self, source: VersionedBucketedTable) -> int:
        meta = self._meta()
        v0, v1 = meta["applied_version"], source.current_version()
        if v1 <= v0:
            return v0
        if v0 == 0 or meta["data"] is None:
            out = (
                source.read_at(v1)
                .filter(F.col(self.value_col).isNotNull())
                .groupBy(*self.group_cols, self._bin(self.value_col).alias("bin"))
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            )
        else:
            delta = self._delta(
                source.changes_between(v0, v1, include_preimage=True)
            )
            cur = self.read().select(
                *self.group_cols, "bin", F.col("cnt").alias("dcnt")
            )
            out = (
                cur.unionByName(delta)
                .groupBy(*self.group_cols, "bin")
                .agg(F.sum("dcnt").cast("long").alias("cnt"))
                .filter(F.col("cnt") > 0)
            )
        return self._commit(out, v1)

    # -- quantile walk -------------------------------------------------------

    def quantiles(self, ps: list[tuple[str, int, int]]) -> DataFrame | None:
        """Per-group quantile UPPER BOUNDS from the histogram state.
        ``ps`` is [(out_col, p_num, p_den), …]; each answer is the upper
        edge of the smallest bin whose cumulative count reaches
        ``ceil(p·total)`` — error ≤ bin_width vs the exact order
        statistic, integer-threshold comparison so the walk itself is
        bit-portable.  Runs over |groups|·|occupied bins| state rows,
        never the source table."""
        from pyspark.sql import Window

        state = self.read()
        if state is None:
            return None
        bygrp = Window.partitionBy(*self.group_cols).orderBy("bin")
        cum = state.withColumn("cum", F.sum("cnt").over(bygrp)).withColumn(
            "total", F.sum("cnt").over(Window.partitionBy(*self.group_cols))
        )

        def est(p_num: int, p_den: int) -> F.Column:
            reach = F.col("cum") * p_den >= F.col("total") * p_num
            return F.min(
                F.when(reach, (F.col("bin") + 1) * self.bin_width)
            ).cast("long")

        return cum.groupBy(*self.group_cols).agg(
            F.max("total").cast("long").alias("n_rows"),
            *[est(n, d).alias(name) for name, n, d in ps],
        )


DISTINCT_META_NAME = "_derived_distinct_meta.json"


class DerivedDistinctTable:
    """Incrementally-maintained per-group COUNT(DISTINCT value) — the
    other classic hard case of MV maintenance after min/max: distinct
    counts are not retractable from the aggregate alone (removing a
    value says nothing unless you know how many live rows still carry
    it).  The textbook fix is a two-level view, kept here exactly:

    * LEVEL 1 (state): refcounts per (group, value), hash-bucketed on
      (group, value) so a refresh rewrites ONLY the buckets the delta
      touches — the state is corpus-cardinality at worst (every
      distinct pair), so whole-state rewrites are not an option at
      100 TB; touched-bucket merges are the same discipline as the LWW
      target's own merge (versioned.py).
    * LEVEL 2 (published rollup): (group, n_distinct), maintained from
      the refcount 0↔positive TRANSITIONS the level-1 merge emits as a
      byproduct of the same pass — a value's arrival in a group (+1)
      or final departure (−1).  O(touched groups) rows.

    Per-refresh cost: O(|delta| + touched state buckets + touched
    groups).  NULLs never count (SQL ``count(distinct)`` semantics).

    Reference parity: the reference streams rows and leaves every
    aggregate to the downstream warehouse; with sum/count
    (``DerivedAggTable``), min/max (``DerivedExtremaTable``) and
    distinct counts here, the engine maintains the full retractable
    family itself."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        value_col: str,
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.n_buckets = n_buckets

    # -- meta --------------------------------------------------------------

    def _meta(self) -> dict:
        return pointer.load(
            self.path,
            DISTINCT_META_NAME,
            {"applied_version": 0, "buckets": {}, "rollup": None},
        )

    def _publish(self, meta: dict) -> None:
        pointer.publish(self.path, DISTINCT_META_NAME, meta)
        live = {*meta["buckets"].values(), meta["rollup"]}
        pointer.sweep(self.path, ("st-", "ru-"), live)

    def applied_version(self) -> int:
        return self._meta()["applied_version"]

    def _bucket_expr(self):
        return F.pmod(
            F.hash(*[F.col(c) for c in self.group_cols], F.col(self.value_col)),
            F.lit(self.n_buckets),
        )

    def read(self) -> DataFrame | None:
        """The published (group_cols…, n_distinct) rollup."""
        meta = self._meta()
        if meta["rollup"] is None:
            return None
        return self.spark.read.parquet(os.path.join(self.path, meta["rollup"]))

    def read_state(self, buckets: list[str] | None = None) -> DataFrame | None:
        meta = self._meta()
        names = meta["buckets"] if buckets is None else {
            b: meta["buckets"][b] for b in buckets if b in meta["buckets"]
        }
        paths = [os.path.join(self.path, d) for d in names.values()]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream source-column rename: refcount state rows
        are (group…, value, refs) with source names raw, the rollup is
        (group…, n_distinct).  Each live state bucket rewrites under
        the new names (bucket placement hashes VALUES, so no row
        moves); ONE meta publish flips buckets + rollup together.
        O(|state|) — the same boundary as the parquet stores' rename
        (physical column names); renames are rare by construction."""
        from qin_cdc_spark.streaming.rename_plan import (
            plan_renames,
            rename_frame,
        )

        state_map = {o: n for o, n in mapping.items() if o in self.group_cols}
        if self.value_col in mapping:
            state_map[self.value_col] = mapping[self.value_col]
        group_renamed = any(o in self.group_cols for o in mapping)
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.value_col = mapping.get(self.value_col, self.value_col)
        if not state_map:
            return
        meta = self._meta()
        changed = False
        new_buckets: dict[str, str] = {}
        for b, dname in meta["buckets"].items():
            df = self.spark.read.parquet(os.path.join(self.path, dname))
            applied = plan_renames(df.columns, state_map, missing_ok=True)
            if not applied:
                new_buckets[b] = dname
                continue
            nd = f"st-{uuid.uuid4().hex[:12]}"
            rename_frame(df, applied).write.parquet(os.path.join(self.path, nd))
            new_buckets[b] = nd
            changed = True
        new_rollup = meta["rollup"]
        if group_renamed and meta["rollup"] is not None:
            df = self.spark.read.parquet(os.path.join(self.path, meta["rollup"]))
            applied = plan_renames(df.columns, state_map, missing_ok=True)
            if applied:
                new_rollup = f"ru-{uuid.uuid4().hex[:12]}"
                rename_frame(df, applied).write.parquet(
                    os.path.join(self.path, new_rollup)
                )
                changed = True
        if changed:
            meta["buckets"] = new_buckets
            meta["rollup"] = new_rollup
            self._publish(meta)

    # -- refresh -----------------------------------------------------------

    def _delta(self, cdf: DataFrame) -> DataFrame:
        """Signed refcount delta per (group, value) from a preimage CDF;
        null values drop out on both sides (they never count)."""
        add = (
            cdf.filter(F.col("_change").isin("insert", "update"))
            .filter(F.col(self.value_col).isNotNull())
            .select(*self.group_cols, self.value_col, F.lit(1).alias("d"))
        )
        retract = (
            cdf.filter(F.col("_change").isin("update", "delete"))
            .filter(F.col(f"_pre_{self.value_col}").isNotNull())
            .select(
                *[F.col(f"_pre_{g}").alias(g) for g in self.group_cols],
                F.col(f"_pre_{self.value_col}").alias(self.value_col),
                F.lit(-1).alias("d"),
            )
        )
        return (
            add.unionByName(retract)
            .groupBy(*self.group_cols, self.value_col)
            .agg(F.sum("d").cast("long").alias("dref"))
            .filter(F.col("dref") != 0)
        )

    def refresh(self, source: VersionedBucketedTable) -> int:
        meta = self._meta()
        v0, v1 = meta["applied_version"], source.current_version()
        if v1 <= v0:
            return v0
        key_cols = [*self.group_cols, self.value_col]
        if v0 == 0 or meta["rollup"] is None:
            # bootstrap: one grouped pass builds both levels
            snap = source.read_at(v1).filter(F.col(self.value_col).isNotNull())
            state = (
                snap.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).cast("long").alias("refs"))
                .withColumn("_bucket", self._bucket_expr())
            )
            rollup = state.groupBy(*self.group_cols).agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct")
            )
            new_buckets = self._write_state(state, None, meta)
            rname = f"ru-{uuid.uuid4().hex[:12]}"
            rollup.write.parquet(os.path.join(self.path, rname))
            self._publish(
                {"applied_version": v1, "buckets": new_buckets, "rollup": rname}
            )
            return v1

        delta = self._delta(
            source.changes_between(v0, v1, include_preimage=True)
        ).withColumn("_bucket", self._bucket_expr())
        delta = delta.persist()
        try:
            touched = [
                str(r[0]) for r in delta.select("_bucket").distinct().collect()
            ]
            if not touched:
                self._publish({**meta, "applied_version": v1})
                return v1
            old = self.read_state(touched)
            if old is None:
                old = delta.limit(0).select(
                    *key_cols, F.col("dref").alias("refs")
                )
            # note: the _bucket partition column does not survive the
            # dir rename (it lived in the staged directory name); it is
            # recomputed from the keys where needed
            j = old.select(*key_cols, "refs").join(
                delta.select(*key_cols, "dref"), key_cols, "full_outer"
            )
            j = j.select(
                *key_cols,
                F.coalesce("refs", F.lit(0)).alias("refs_old"),
                (
                    F.coalesce("refs", F.lit(0)) + F.coalesce("dref", F.lit(0))
                ).alias("refs_new"),
                F.col("dref").isNotNull().alias("_in_delta"),
            ).persist()
            try:
                state_new = j.filter(F.col("refs_new") > 0).select(
                    *key_cols,
                    F.col("refs_new").alias("refs"),
                    self._bucket_expr().alias("_bucket"),
                )
                new_buckets = self._write_state(state_new, touched, meta)
                # transitions: only delta keys can change liveness; the
                # rollup update is O(touched groups)
                trans = (
                    j.filter("_in_delta")
                    .select(
                        *self.group_cols,
                        (
                            (F.col("refs_new") > 0).cast("long")
                            - (F.col("refs_old") > 0).cast("long")
                        ).alias("dd"),
                    )
                    .groupBy(*self.group_cols)
                    .agg(F.sum("dd").cast("long").alias("dd"))
                    .filter(F.col("dd") != 0)
                )
                cur = self.read()
                merged = (
                    cur.select(
                        *self.group_cols, F.col("n_distinct").alias("dd")
                    )
                    .unionByName(trans)
                    .groupBy(*self.group_cols)
                    .agg(F.sum("dd").cast("long").alias("n_distinct"))
                    .filter(F.col("n_distinct") > 0)
                )
                rname = f"ru-{uuid.uuid4().hex[:12]}"
                merged.write.parquet(os.path.join(self.path, rname))
                self._publish(
                    {
                        "applied_version": v1,
                        "buckets": new_buckets,
                        "rollup": rname,
                    }
                )
                return v1
            finally:
                j.unpersist()
        finally:
            delta.unpersist()

    def _write_state(
        self, state: DataFrame, touched: list[str] | None, meta: dict
    ) -> dict:
        """Write state rows partitioned by _bucket; returns the new
        bucket→dir map (touched buckets replaced, others carried)."""
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex[:8]}")
        n_parts = len(touched) if touched else self.n_buckets
        (
            state.repartition(max(1, n_parts), F.col("_bucket"))
            .write.partitionBy("_bucket")
            .parquet(stage)
        )
        new_buckets = dict(meta["buckets"])
        expect = touched if touched is not None else [
            str(b) for b in range(self.n_buckets)
        ]
        for b in expect:
            src = os.path.join(stage, f"_bucket={b}")
            if os.path.isdir(src):
                dname = f"st-{uuid.uuid4().hex[:12]}"
                os.rename(src, os.path.join(self.path, dname))
                new_buckets[b] = dname
            else:
                new_buckets.pop(b, None)  # bucket emptied
        shutil.rmtree(stage, ignore_errors=True)
        return new_buckets


TOPK_META_NAME = "_derived_topk_meta.json"


class DerivedTopKTable(_PointerView):
    """Incrementally-maintained per-group TOP-K rows (value desc, key
    asc) — the serving-layer MV behind leaderboards, per-query retrieval
    caches, and per-source "best documents" lists.  Top-k shares
    min/max's retraction problem (remove the champion and the runner-up
    is unknown) but the standard fix is cheaper than a per-retraction
    rescan: keep a SLACK BUFFER of the top ``buffer_size`` ≥ k rows per
    group, absorb retractions by deleting from the buffer, and rescan a
    group only when its buffer underflows below k while rows remain —
    churn up to the slack costs nothing.

    Exactness argument (what the tests assert): the stored buffer is
    always an exact rank-prefix of its group.  Retracting a buffered
    key shortens the prefix; a retracted key NOT in the buffer ranked
    strictly below the buffer's floor (the total order (value desc,
    key asc) is strict), so the prefix is untouched.  Additions are
    fully known; merging them keeps exactness only ABOVE the surviving
    old floor τ — an addition below τ may rank below an unseen
    non-buffer row, so (unless the buffer held the WHOLE group, i.e.
    size == cnt) candidates below τ are discarded rather than trusted.
    The group rescans iff the surviving prefix is shorter than
    min(k, cnt): read exactly those groups AS OF the CDF's end version
    (Bloom-pruned ``read_where`` or broadcast semi-join — the
    ``DerivedExtremaTable`` probe shape) and rebuild their top-buffer.
    A no-underflow refresh plans NO source pass (driver-side emptiness
    check, pytest-asserted).

    Per-refresh cost: O(|delta| + |groups|·buffer + Σ size of
    underflowed groups).  Per-group live counts ride the same state
    (cnt is retractable), so "buffer == whole group" needs no extra
    flag.  NULL values never rank.  The state is the buffer rows
    (group…, key…, value, cnt), ``cnt`` being the group's live-row
    count replicated across its buffer rows.
    """

    POINTER, PREFIX = TOPK_META_NAME, "tk"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        key_cols: list[str],
        value_col: str,
        k: int,
        buffer_size: int | None = None,
        probe_limit: int = 10_000,
    ):
        if k <= 0:
            raise ValueError("k must be positive")
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.key_cols = list(key_cols)
        self.value_col = value_col
        self.k = int(k)
        self.buffer_size = int(buffer_size or 2 * k)
        if self.buffer_size < self.k:
            raise ValueError("buffer_size must be >= k")
        self.probe_limit = probe_limit

    def read(self) -> DataFrame | None:
        """The published view: exactly the top-min(k, cnt) rows per
        group with their 1-based rank — a |groups|·buffer-row window,
        never a source pass."""
        from pyspark.sql import Window

        st = self._state()
        if st is None:
            return None
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.col(self.value_col).desc(), *[F.asc(c) for c in self.key_cols]
        )
        return (
            st.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(*self.group_cols, "rank", *self.key_cols, self.value_col)
        )

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream source-column rename: buffer state rows
        are (group…, key…, value, cnt) with source names raw."""
        spec = {*self.group_cols, *self.key_cols, self.value_col}
        state_map = {o: n for o, n in mapping.items() if o in spec}
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.key_cols = [mapping.get(c, c) for c in self.key_cols]
        self.value_col = mapping.get(self.value_col, self.value_col)
        self._rename_pointer_state(state_map)

    # -- ordering helpers ----------------------------------------------------

    def _ranks_above(self, lv, lks, rv, rks) -> F.Column:
        """(lv, lks) ranks strictly above (rv, rks) in (value desc,
        keys asc)."""
        cond = lv > rv
        eq = lv == rv
        for lk, rk in zip(lks, rks):
            cond = cond | (eq & (lk < rk))
            eq = eq & (lk == rk)
        return cond

    def _full_topb(self, rows: DataFrame) -> DataFrame:
        """Exact (group…, key…, value, cnt) buffer from raw rows."""
        from pyspark.sql import Window

        base = rows.filter(F.col(self.value_col).isNotNull()).select(
            *self.group_cols, *self.key_cols, self.value_col
        )
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.col(self.value_col).desc(), *[F.asc(c) for c in self.key_cols]
        )
        cw = Window.partitionBy(*self.group_cols)
        return (
            base.withColumn("_rn", F.row_number().over(w))
            .withColumn("cnt", F.count(F.lit(1)).over(cw))
            .filter(F.col("_rn") <= self.buffer_size)
            .drop("_rn")
        )

    # the extrema view's bounded probe, shared as-is
    _rescan_rows = DerivedExtremaTable._rescan_rows

    # -- refresh -----------------------------------------------------------

    def refresh(self, source: VersionedBucketedTable) -> int:
        from pyspark.sql import Window

        meta = self._meta()
        v0, v1 = meta["applied_version"], source.current_version()
        if v1 <= v0:
            return v0
        if v0 == 0 or meta["data"] is None:
            return self._commit(self._full_topb(source.read_at(v1)), v1)

        cdf = source.changes_between(v0, v1, include_preimage=True)
        gk = [*self.group_cols, *self.key_cols]
        # NULL-valued rows never rank: they are invisible to the buffer
        # AND to cnt (cnt counts RANKED rows so that buffer==cnt really
        # means "the buffer holds the whole ranked group").
        adds = (
            cdf.filter(F.col("_change").isin("insert", "update"))
            .filter(F.col(self.value_col).isNotNull())
            .select(*gk, self.value_col)
        )
        # the CDF prefixes preimage VALUE columns with _pre_; the source
        # PK is the join identity and rides unprefixed — cover both so
        # key_cols may name either
        def _pre(c: str) -> F.Column:
            return (
                F.col(f"_pre_{c}") if f"_pre_{c}" in cdf.columns else F.col(c)
            ).alias(c)

        rets = (
            cdf.filter(F.col("_change").isin("update", "delete"))
            .filter(F.col(f"_pre_{self.value_col}").isNotNull())
            .select(
                *[_pre(g) for g in self.group_cols],
                *[_pre(c) for c in self.key_cols],
            )
        )
        dcnt = (
            adds.select(*self.group_cols, F.lit(1).alias("d"))
            .unionByName(rets.select(*self.group_cols, F.lit(-1).alias("d")))
            .groupBy(*self.group_cols)
            .agg(F.sum("d").cast("long").alias("dcnt"))
        )

        st = self._state()
        old_cnt = st.groupBy(*self.group_cols).agg(
            F.max("cnt").alias("cnt0"), F.count(F.lit(1)).alias("m0")
        )
        cnt_new = (
            old_cnt.select(*self.group_cols, F.col("cnt0").alias("dcnt"))
            .unionByName(dcnt)
            .groupBy(*self.group_cols)
            .agg(F.sum("dcnt").cast("long").alias("cnt_new"))
            .filter(F.col("cnt_new") > 0)
        )

        # surviving prefix P: buffer minus retracted (group, key)s
        p_rows = st.select(*gk, self.value_col).join(rets, gk, "left_anti")
        # per-group floor τ and coverage: full ⟺ old buffer held the
        # whole group (m0 == cnt0) — then τ is irrelevant
        # τ = the buffer FLOOR (worst surviving rank): the struct
        # (−value, keys…) sorts ascending in rank order, so the floor is
        # its MAXIMUM — min would pick the champion and spuriously
        # distrust every other surviving row
        floor = p_rows.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("p"),
            F.max(
                F.struct(
                    (-F.col(self.value_col)).alias("nv"),
                    *[F.col(c).alias(f"k_{c}") for c in self.key_cols],
                )
            ).alias("tau"),
        )
        info = (
            cnt_new.join(
                old_cnt.select(
                    *self.group_cols, (F.col("m0") >= F.col("cnt0")).alias("full0")
                ),
                self.group_cols,
                "left",
            )
            .join(floor, self.group_cols, "left")
            .select(
                *self.group_cols,
                "cnt_new",
                # a group ABSENT from the old state had no ranked rows —
                # coverage is trivially full (its candidates are exactly
                # its additions), so a group born inside this CDF range
                # builds exactly and never rescans
                F.coalesce("full0", F.lit(True)).alias("full0"),
                F.coalesce("p", F.lit(0)).alias("p"),
                "tau",
            )
        )

        cand = p_rows.unionByName(adds)
        c = cand.join(info, self.group_cols, "inner")
        # keep candidates exact: everything when coverage was full,
        # otherwise only rows at-or-above the surviving floor τ
        above_tau = self._ranks_above(
            F.col(self.value_col),
            [F.col(c_) for c_ in self.key_cols],
            -F.col("tau.nv"),
            [F.col(f"tau.k_{c_}") for c_ in self.key_cols],
        ) | (
            (F.col(self.value_col) == -F.col("tau.nv"))
            & F.concat_ws(
                "\x01", *[F.col(c_).cast("string") for c_ in self.key_cols]
            ).eqNullSafe(
                F.concat_ws(
                    "\x01",
                    *[F.col(f"tau.k_{c_}").cast("string") for c_ in self.key_cols],
                )
            )
        )
        exact = c.filter(
            F.col("full0") | ((F.col("p") > 0) & above_tau)
        )
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.col(self.value_col).desc(), *[F.asc(c_) for c_ in self.key_cols]
        )
        kept = (
            exact.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.buffer_size)
            .drop("_rn")
        )
        m_new = kept.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("m_new")
        )
        need = (
            info.join(m_new, self.group_cols, "left")
            .select(
                *self.group_cols,
                "cnt_new",
                F.coalesce("m_new", F.lit(0)).alias("m_new"),
            )
            .withColumn(
                "_rescan",
                F.col("m_new") < F.least(F.lit(self.k), F.col("cnt_new")),
            )
        ).persist()  # split two ways below + driver emptiness check
        try:
            rescan_groups = need.filter("_rescan").select(*self.group_cols)
            if rescan_groups.limit(1).count() == 0:
                # empty frame from the buffer's own schema — the common
                # no-underflow refresh must not touch the source at all
                rescanned = (
                    kept.limit(0)
                    .select(*gk, self.value_col)
                    .withColumn("cnt", F.lit(0).cast("long"))
                )
            else:
                rescanned = self._full_topb(
                    self._rescan_rows(source, rescan_groups, v1)
                ).select(*gk, self.value_col, "cnt")
            ok = (
                kept.select(*gk, self.value_col)
                .join(
                    need.filter(~F.col("_rescan")).select(
                        *self.group_cols, F.col("cnt_new").alias("cnt")
                    ),
                    self.group_cols,
                    "inner",
                )
            )
            return self._commit(ok.unionByName(rescanned), v1)
        finally:
            need.unpersist()


class DerivedKeyedAggTable:
    """Incrementally-maintained per-KEY aggregate — the high-cardinality
    complement to ``DerivedAggTable``.  The snapshot-pointer MVs above
    rewrite their whole (small) view each refresh; a per-customer /
    per-document aggregate has corpus-cardinality groups, where an
    O(|view|) rewrite is not an option at 100 TB.  Here the view's state
    IS a ``VersionedBucketedTable`` keyed by the group columns:

    * delta = the usual signed (group, dcnt, dsum…) from the preimage
      CDF — O(|delta|), map-side combinable;
    * prior totals for EXACTLY the delta's groups come from
      ``read_buckets`` (manifest-level pruning: only the state buckets
      the delta's groups hash into are opened);
    * new totals merge back as an LWW batch — the store rewrites only
      touched buckets; groups whose count reaches zero merge as
      deletes.

    Per-refresh cost: O(|delta| + touched state buckets), end to end.

    **Crash consistency with no side meta file**: each refresh merges
    with ``batch_id = v_to`` (the source version it folds up to), so
    the store's ``last_batch_id`` — recorded atomically with the state
    by the manifest flip — IS the applied source version.  A crash
    anywhere leaves state+progress consistent (the merge publishes
    both or neither); a replay of the same range no-ops on the batch
    guard.  This is the fix for the replay hazard every
    delta-plus-state MV has: totals computed from already-updated
    state would double-apply, so state and progress must commit
    together.

    **MVs chain**: because the state is itself a versioned table with
    a preimage change feed, a second-level view maintains itself from
    THIS view's CDF (``.store.changes_between``) — incremental
    O(delta) all the way down, never a recompute at any level.  The
    gate query materializes such a chain.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        sum_cols: list[str],
        n_buckets: int = 32,
        cnt_col: str = "cnt",
    ):
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.cnt_col = cnt_col
        self.store = VersionedBucketedTable(
            spark, os.path.join(path, "mv"), self.group_cols,
            n_buckets=n_buckets,
        )

    def applied_version(self) -> int:
        return max(0, self.store.last_batch_id())

    def read(self) -> DataFrame | None:
        """(group_cols…, cnt, sum_<c>…) live rows."""
        return self.store.read()

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream source-column rename: the state is a
        VersionedBucketedTable keyed by the group columns (sums as
        ``sum_<col>``) — delegate to its value-preserving rename, which
        also re-binds its keys/bucket_cols (placement hashes VALUES,
        no row moves).  A never-refreshed store just re-binds keys."""
        state_map = {o: n for o, n in mapping.items() if o in self.group_cols}
        state_map.update(
            {
                f"sum_{o}": f"sum_{n}"
                for o, n in mapping.items()
                if o in self.sum_cols
            }
        )
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.sum_cols = [mapping.get(c, c) for c in self.sum_cols]
        if not state_map:
            return
        if self.store.current_version() > 0:
            self.store.rename_columns(state_map, missing_ok=True)
        else:
            self.store.keys = [state_map.get(k, k) for k in self.store.keys]
            self.store.bucket_cols = [
                state_map.get(k, k) for k in self.store.bucket_cols
            ]

    # -- refresh -----------------------------------------------------------

    def _delta(self, cdf: DataFrame) -> DataFrame:
        add = cdf.filter(F.col("_change").isin("insert", "update")).select(
            *self.group_cols,
            F.lit(1).cast("long").alias("_dcnt"),
            *[F.col(c).cast("long").alias(f"_dsum_{c}") for c in self.sum_cols],
        )
        retract = cdf.filter(F.col("_change").isin("update", "delete")).select(
            *[F.col(f"_pre_{g}").alias(g) for g in self.group_cols],
            F.lit(-1).cast("long").alias("_dcnt"),
            *[
                (-F.col(f"_pre_{c}").cast("long")).alias(f"_dsum_{c}")
                for c in self.sum_cols
            ],
        )
        return (
            add.unionByName(retract)
            .groupBy(*self.group_cols)
            .agg(
                F.sum("_dcnt").cast("long").alias("_dcnt"),
                *[
                    F.sum(f"_dsum_{c}").cast("long").alias(f"_dsum_{c}")
                    for c in self.sum_cols
                ],
            )
        )

    def _events(self, totals: DataFrame, seq: int) -> DataFrame:
        return totals.select(
            F.when(F.col(self.cnt_col) > 0, F.lit("upsert"))
            .otherwise(F.lit("delete"))
            .alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            *self.group_cols,
            F.col(self.cnt_col).cast("long").alias(self.cnt_col),
            *[F.col(f"sum_{c}").cast("long").alias(f"sum_{c}") for c in self.sum_cols],
        )

    def refresh(self, source: VersionedBucketedTable) -> int:
        v0, v1 = self.applied_version(), source.current_version()
        if v1 <= v0:
            return v0
        if v0 == 0:
            totals = source.read_at(v1).groupBy(*self.group_cols).agg(
                F.count(F.lit(1)).cast("long").alias(self.cnt_col),
                *[
                    F.sum(F.col(c).cast("long")).cast("long").alias(f"sum_{c}")
                    for c in self.sum_cols
                ],
            )
            self.store.merge(self._events(totals, v1), batch_id=v1)
            return v1

        delta = self._delta(
            source.changes_between(v0, v1, include_preimage=True)
        ).persist()
        try:
            # state buckets the delta's groups hash into — bounded by
            # the store's bucket count, shipped driver-side for the
            # manifest-level pruned read of prior totals
            man = self.store._meta()["versions"].get(
                str(self.store.current_version()), {"buckets": {}}
            )
            nb = self.store._manifest_n_buckets(man)
            bexpr = self.store._bucket_expr(nb)
            touched = [
                str(r[0])
                for r in delta.select(bexpr.alias("_b")).distinct().collect()
            ]
            if not touched:
                # CDF nets out to nothing: advance the applied version
                # (touched=[] — provably empty, no probe job at all)
                self.store.merge(
                    self._events(delta.limit(0).select(
                        *self.group_cols,
                        F.col("_dcnt").alias(self.cnt_col),
                        *[
                            F.col(f"_dsum_{c}").alias(f"sum_{c}")
                            for c in self.sum_cols
                        ],
                    ), v1),
                    batch_id=v1,
                    touched=[],
                )
                return v1
            old = self.store.read_buckets(touched)
            if old is None:
                old = delta.limit(0).select(
                    *self.group_cols,
                    F.col("_dcnt").alias(self.cnt_col),
                    *[F.col(f"_dsum_{c}").alias(f"sum_{c}") for c in self.sum_cols],
                )
            prior = old.join(delta.select(*self.group_cols), self.group_cols, "left_semi")
            totals = (
                delta.join(prior, self.group_cols, "left")
                .select(
                    *self.group_cols,
                    (
                        F.coalesce(self.cnt_col, F.lit(0)) + F.col("_dcnt")
                    ).cast("long").alias(self.cnt_col),
                    # arithmetic merge (unlike the re-aggregation the
                    # snapshot-pointer MV does, where SUM just skips
                    # nulls): a delta whose values were ALL NULL sums to
                    # NULL and would null out the stored total — treat
                    # null-valued rows as contributing 0 on both sides
                    *[
                        (
                            F.coalesce(f"sum_{c}", F.lit(0))
                            + F.coalesce(f"_dsum_{c}", F.lit(0))
                        ).cast("long").alias(f"sum_{c}")
                        for c in self.sum_cols
                    ],
                )
            )
            # the probe above already named the touched buckets (totals
            # carries exactly the delta's groups) — the state merge
            # skips its own probe job + persist (OPTIMIZATION_r10)
            self.store.merge(self._events(totals, v1), batch_id=v1, touched=touched)
            return v1
        finally:
            delta.unpersist()
