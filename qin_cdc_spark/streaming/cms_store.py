"""Streaming count-min sketch store: heavy hitters as a continuous
aggregate.

The CMS counter table is CONSTANT-SIZE (D×W rows regardless of input),
so the continuous-aggregate machinery collapses: each micro-batch
computes its own partial sketch (one map-side-combinable groupBy over
(d, pos) probes) and adds it into the stored table with a full
stage-write + atomic snapshot flip — "full rewrite" here is D×W ≤ a few
thousand rows, the sketch's whole point at 100 TB.  Batch-id replay
guard mirrors RollupStore (idempotent under foreachBatch redelivery).

Heavy-hitter reads join candidate terms against the sketch (broadcast —
it is tiny by construction) and take min-over-depth, preserving the CMS
est ≥ true guarantee across any number of merged batches.

Sketch geometry and md5-derived probe hashing are shared with the batch
operator (operators/retrieval.py sketch_countmin_topk) so the two read
identically and the stream-merge gate query is hash-checkable: merging
per-batch sketches must equal the one-pass sketch exactly (additivity).

No reference analog (qin-cdc has no sketch surface); north-star §2.C.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from qin_cdc_spark.functions.text import hash60, words
from qin_cdc_spark.operators.retrieval import CMS_D, CMS_TOPK, CMS_W
from qin_cdc_spark.sources.tables import load_table
from qin_cdc_spark.streaming import pointer

META_NAME = "_cms_meta.json"


def term_probes() -> F.Column:
    """The D (depth, position) probe pairs for column ``term`` — keep in
    lockstep with operators/retrieval.py."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(
                    hash60(F.concat(F.lit(f"cms{d}:"), F.col("term"))), F.lit(CMS_W)
                ).alias("pos"),
            )
            for d in range(CMS_D)
        ]
    )


def sketch_of(terms: DataFrame) -> DataFrame:
    """(d, pos, counter) partial sketch of a term relation."""
    return (
        terms.select(F.explode(term_probes()).alias("p"))
        .groupBy(F.col("p.d").alias("d"), F.col("p.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("counter"))
    )


class CmsStore:
    """Persisted additive CMS counter table with snapshot-pointer
    publication and batch-id replay guard."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _meta(self) -> dict:
        return pointer.load(self.path, META_NAME, {"last_batch_id": -1, "data": None})

    def _publish(self, meta: dict) -> None:
        pointer.publish(self.path, META_NAME, meta)
        pointer.sweep(self.path, "v-", {meta["data"]})

    def exists(self) -> bool:
        return self._meta()["data"] is not None

    def read(self) -> DataFrame:
        meta = self._meta()
        if meta["data"] is None:
            return self.spark.createDataFrame([], "d int, pos long, counter long")
        return self.spark.read.parquet(os.path.join(self.path, meta["data"]))

    def merge_batch(self, terms: DataFrame, batch_id: int) -> None:
        """Add the batch's partial sketch into the store (idempotent)."""
        meta = self._meta()
        if batch_id <= meta["last_batch_id"]:
            return
        merged = (
            self.read()
            .unionByName(sketch_of(terms))
            .groupBy("d", "pos")
            .agg(F.sum("counter").alias("counter"))
            # the table is D×W rows — one file keeps reads a single task
            .coalesce(1)
        )
        new_dir = f"v-{uuid.uuid4().hex[:8]}"
        merged.write.parquet(os.path.join(self.path, new_dir))
        meta["data"] = new_dir
        meta["last_batch_id"] = batch_id
        self._publish(meta)

    def estimate(self, candidates: DataFrame) -> DataFrame:
        """est_count per candidate ``term`` (min over depth rows); the
        sketch side broadcasts — it is constant-size by construction."""
        probed = candidates.select("term", F.explode(term_probes()).alias("p"))
        return (
            probed.join(
                F.broadcast(self.read()),
                (F.col("p.d") == F.col("d")) & (F.col("p.pos") == F.col("pos")),
            )
            .groupBy("term")
            .agg(F.min("counter").alias("est_count"))
        )


def start_streaming_cms(
    spark: SparkSession,
    stream: DataFrame,
    store: CmsStore,
    checkpoint_dir: str,
    term_col: str = "term",
):
    """Wire a term stream into the store via foreachBatch."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: store.merge_batch(
                batch_df.select(F.col(term_col).alias("term")), batch_id
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Gate form: two deterministic micro-batches (even / odd doc_ids) merged
# additively as pure DataFrame ops must equal the ONE-PASS sketch — the
# mergeability contract, hash-checked end to end including the top-K
# heavy-hitter read on the merged table.
# ---------------------------------------------------------------------------


def sketch_countmin_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    b1 = sketch_of(tok.filter(F.col("doc_id") % 2 == 0))
    b2 = sketch_of(tok.filter(F.col("doc_id") % 2 == 1))
    merged = (
        b1.unionByName(b2).groupBy("d", "pos").agg(F.sum("counter").alias("counter"))
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("true_count"))
    est = (
        exact.select("term", "true_count", F.explode(term_probes()).alias("p"))
        .join(
            F.broadcast(merged),
            (F.col("p.d") == F.col("d")) & (F.col("p.pos") == F.col("pos")),
        )
        .groupBy("term", "true_count")
        .agg(F.min("counter").alias("est_count"))
    )
    w = Window.orderBy(F.col("est_count").desc(), F.col("term").asc())
    return (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CMS_TOPK)
        .select("term", "est_count", "true_count", "rk")
    )


def _stream_merge_oracle() -> str:
    # additivity ⇒ the merged two-batch sketch equals the single-pass
    # sketch: reuse the batch operator's oracle verbatim.
    from qin_cdc_spark.operators.retrieval import CMS_ORACLE

    return CMS_ORACLE


QUERIES = {"sketch_countmin_stream_merge": sketch_countmin_stream_merge}
ORACLES = {"sketch_countmin_stream_merge": _stream_merge_oracle()}
