"""Incremental materialized rollup (continuous aggregate).

The hypertable-rollup pattern: a persistent parquet table keyed by
(window_start, group keys) holding ADDITIVE partial aggregates
(count, sum), maintained per micro-batch from a stream.  Readers get
the finished rollup (including derived avg) without touching the raw
event stream — the materialized-view analog of the reference's synced
target tables (qin-cdc's sinks materialize row state; this materializes
aggregate state — same foreachBatch + idempotent-apply skeleton as
`streaming/cdc_stream.py`, see outputs/starrocks/starrocks.go:64-129
for the reference's buffer/flush shape).

Scale design:
- Each micro-batch is pre-aggregated FIRST (partial agg, map-side
  combine) — the merge input is |windows × keys| rows, never |events|.
- The store is MONTH-PARTITIONED on window_start and a merge rewrites
  only the months the batch touches — long-retention stores (years of
  hourly windows) pay per-batch cost proportional to the batch's time
  locality, not the store's history.
- Publishing is snapshot-pointer style (the Iceberg/Delta move, scaled
  down): data directories are immutable and uniquely named; a single
  atomic ``os.replace`` of ``_rollup_meta.json`` flips the store from
  one consistent snapshot to the next.  A crash at ANY point leaves the
  previous snapshot fully intact (round 1's double-rename had a window
  that could lose the whole store, meta included); orphaned data dirs
  are garbage-collected on the next successful publish.
- Exactly-once: foreachBatch can re-deliver a batch after a crash, and
  additive merges are NOT naturally idempotent, so the meta records the
  last applied batch_id and replays no-op.  The guard is scoped to the
  streaming RUN (checkpoint): restarting against a NEW checkpoint
  restarts batch ids at 0, which round 1 silently skipped forever —
  now it raises until the caller either uses a fresh store path or
  explicitly ``adopt_run()``s the store into the new checkpoint.
"""

from __future__ import annotations

import os
import uuid
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from qin_cdc_spark.streaming import pointer

META_NAME = "_rollup_meta.json"
MONTH_COL = "_month"


class RollupStore:
    """Additive (window_start, *keys) → (cnt, sum_value) rollup table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        keys: list[str],
        ts_col: str = "ts",
        value_col: str = "value",
        window_duration: str = "1 hour",
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.value_col = value_col
        self.window_duration = window_duration

    # -- snapshot pointer --------------------------------------------------

    def _meta(self) -> dict:
        return pointer.load(
            self.path, META_NAME, {"last_batch_id": -1, "run_id": None, "months": {}}
        )

    def _publish(self, meta: dict) -> None:
        """Atomically flip the snapshot pointer, then GC unreferenced
        data dirs (orphans from crashes or superseded month versions)."""
        pointer.publish(self.path, META_NAME, meta)
        pointer.sweep(self.path, "m-", set(meta["months"].values()))

    def exists(self) -> bool:
        return bool(self._meta()["months"])

    def last_batch_id(self) -> int:
        return self._meta()["last_batch_id"]

    def adopt_run(self, run_id: str | None) -> None:
        """Explicitly re-home the store under a new streaming run
        (checkpoint).  Resets the replay guard — the caller asserts the
        new run's source does not re-deliver already-merged events."""
        meta = self._meta()
        meta["run_id"] = run_id
        meta["last_batch_id"] = -1
        self._publish(meta)

    # -- read --------------------------------------------------------------

    def _empty(self) -> DataFrame:
        fields = ", ".join(f"{k} string" for k in self.keys)
        return self.spark.createDataFrame(
            [], f"window_start timestamp, {fields}, cnt long, sum_value double"
        )

    def read_partials(self, *, months: list[str] | None = None) -> DataFrame:
        """Current snapshot; ``months`` prunes to the named partitions
        (readers and the merge path both skip untouched history)."""
        meta = self._meta()
        sel = meta["months"]
        if months is not None:
            sel = {m: d for m, d in sel.items() if m in months}
        if not sel:
            return self._empty()
        paths = [os.path.join(self.path, d) for d in sel.values()]
        return self.spark.read.parquet(*paths)

    def read(self) -> DataFrame:
        """The finished rollup: partial sums plus derived averages."""
        p = self.read_partials()
        return p.withColumn("avg_value", F.col("sum_value") / F.col("cnt"))

    # -- merge -------------------------------------------------------------

    def aggregate_batch(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.groupBy(
                F.window(self.ts_col, self.window_duration).alias("_w"), *self.keys
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(self.value_col).cast("double").alias("sum_value"),
            )
            .select(F.col("_w.start").alias("window_start"), *self.keys, "cnt", "sum_value")
        )

    def merge_batch(
        self, batch_df: DataFrame, batch_id: int, *, run_id: str | None = None
    ) -> None:
        """Idempotent additive merge: pre-agg the batch, add into the
        touched months only, publish the new snapshot atomically."""
        meta = self._meta()
        if run_id is not None and meta["months"]:
            if meta["run_id"] is not None and meta["run_id"] != run_id:
                raise ValueError(
                    f"RollupStore at {self.path} was written by run "
                    f"{meta['run_id']!r}; merging from run {run_id!r} would "
                    "restart batch ids and silently re-apply or skip data. "
                    "Use a fresh store path, or call adopt_run() if the new "
                    "stream provably does not re-deliver merged events."
                )
        if batch_id <= meta["last_batch_id"]:
            return

        inc = self.aggregate_batch(batch_df).withColumn(
            MONTH_COL, F.date_format("window_start", "yyyy-MM")
        )
        # One small driver-side collect, bounded by the batch's time
        # locality (a micro-batch touches 1-2 months, not the history).
        inc = inc.persist()
        try:
            touched = sorted(r[0] for r in inc.select(MONTH_COL).distinct().collect())
            if not touched:  # empty batch: still advance the replay guard
                meta["last_batch_id"] = batch_id
                if run_id is not None:
                    meta["run_id"] = run_id
                self._publish(meta)
                return
            current = self.read_partials(months=touched).withColumn(
                MONTH_COL, F.date_format("window_start", "yyyy-MM")
            )
            merged = (
                current.unionByName(inc)
                .groupBy(MONTH_COL, "window_start", *self.keys)
                .agg(F.sum("cnt").alias("cnt"), F.sum("sum_value").alias("sum_value"))
            )
            # one job: write all touched months, hive-partitioned by month
            stage = f"{self.path}.stage-{uuid.uuid4().hex[:8]}"
            merged.repartition(max(1, len(touched)), F.col(MONTH_COL)).write.partitionBy(
                MONTH_COL
            ).parquet(stage)
            os.makedirs(self.path, exist_ok=True)
            months = dict(meta["months"])
            for m in touched:
                src = os.path.join(stage, f"{MONTH_COL}={m}")
                new_dir = f"m-{m}-{uuid.uuid4().hex[:8]}"
                if os.path.exists(src):
                    os.rename(src, os.path.join(self.path, new_dir))
                    months[m] = new_dir
            shutil.rmtree(stage, ignore_errors=True)
            meta["months"] = months
            meta["last_batch_id"] = batch_id
            if run_id is not None:
                meta["run_id"] = run_id
            self._publish(meta)
        finally:
            inc.unpersist()


def start_incremental_rollup(
    spark: SparkSession,
    stream: DataFrame,
    store: RollupStore,
    *,
    checkpoint_dir: str | None = None,
):
    """Maintain the rollup from a streaming DataFrame of raw events.
    The checkpoint path is the run id — batch ids are only meaningful
    within one checkpoint's offset log."""
    run_id = os.path.realpath(checkpoint_dir) if checkpoint_dir else None

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_batch(batch_df, batch_id, run_id=run_id)

    writer = stream.writeStream.foreachBatch(_merge).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
