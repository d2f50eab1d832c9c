"""Streaming incremental NEAR-dup admission against a persisted
signature store — the cross-batch fuzzy sibling of
``streaming/dedup_store.py``'s exact-fingerprint store.

A continuously-ingesting training corpus must reject documents that are
*near*-duplicates of anything already admitted (boilerplate re-crawls,
lightly-edited mirrors), across micro-batches and restarts.  Storing
raw shingle sets for exact-Jaccard verification is O(corpus text); the
streaming-scale design stores only the 64-int MinHash signature per
admitted doc (constant bytes/doc) and verifies candidates by signature
agreement — an unbiased estimator of Jaccard (component match
probability equals the true Jaccard), which is the standard sketch
trade-off for an unbounded stream.

Shape per micro-batch (foreachBatch):
1. signature each incoming row (row-local MinHash, zero shuffle);
2. within-batch candidates: LSH band self-join (16×4 banding; shuffles
   only short band keys), verify agreement ≥ threshold, reject the
   higher doc_id of each verified pair (deterministic min-id-wins);
3. cross-batch candidates: batch band keys joined against band keys
   derived row-locally from the stored signatures, same verify — a doc
   matching any admitted historical doc is rejected;
4. append only admitted (doc_id, sig, first_seen_batch) to the store.

Idempotence mirrors FingerprintStore: a replayed batch finds each of
its docs in the store as an exact self-match (agreement = 1.0) and
admits nothing, so at-least-once redelivery cannot grow the store.

Scale notes: the store is an append-only flat parquet of signatures
plus (after :meth:`NearDupStore.compact`) a band-key INDEX under
``{path}/_bands`` — underscore-prefixed, so parquet reads of the store
never see it — partitioned by ``bucket = pmod(xxhash64(band),
n_buckets)``.  Per batch the cross-batch candidate join then reads only
the buckets the batch's own band keys hash to (partition-pruned scan;
≤ n_buckets driver-side ints decide the prune) plus the small
post-compaction tail, banded row-locally as before.  Uncompacted, the
scan is O(|admitted|) per batch, like the exact store's anti-join —
``compact()`` is the periodic maintenance job that caps it.  Reference
parity: qin-cdc has no dedup operators (SURVEY §2 scope note); this
composes the north-star MinHash family with the reference's A20/A31
micro-batch + checkpoint semantics.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from qin_cdc_spark.functions.text import (
    MERSENNE31,
    lsh_band_keys,
    minhash_signature,
    perm_params_sql,
    word_shingles,
)
from qin_cdc_spark.sources.tables import load_table
from qin_cdc_spark.streaming import pointer

N_MINHASH = 64
N_BANDS = 16
ROWS_PER_BAND = 4
DEFAULT_THRESHOLD = 0.5  # estimated Jaccard (signature agreement fraction)
BANDS_META_NAME = "_bands_meta.json"


def _signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) — row-local MinHash over 3-word shingles."""
    return docs.select(
        "doc_id",
        minhash_signature(word_shingles(F.col("text")), N_MINHASH).alias("sig"),
    )


def _agreement(sig_a, sig_b):
    """Fraction of matching signature components — E[agreement] = Jaccard."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.lit(N_MINHASH).cast("double")


def _banded(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return sigs.select(
        id_col,
        F.explode(lsh_band_keys(F.col("sig"), N_BANDS, ROWS_PER_BAND)).alias("band"),
    )


def _within_pairs(sigs: DataFrame, threshold: float) -> DataFrame:
    """Verified near-dup pairs (doc_a < doc_b) WITHIN one signature set —
    banded candidates, signature-agreement verify."""
    banded = _banded(sigs)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(_agreement(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select("doc_a", "doc_b")
    )


def _reject_within(sigs: DataFrame, threshold: float) -> DataFrame:
    """Doc ids rejected by the within-batch min-id-wins policy: any doc
    whose signature agrees ≥ threshold with a lower-id doc in the same
    set.  Non-iterative by design (a doc is rejected even if its lower
    partner is itself rejected — both trace to the same admitted root,
    so admitted docs are still pairwise non-near-dup)."""
    return _within_pairs(sigs, threshold).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()


def _reject_against(sigs: DataFrame, store_sigs: DataFrame, threshold: float) -> DataFrame:
    """Doc ids from ``sigs`` that near-match any doc in ``store_sigs``."""
    store = store_sigs.select(F.col("doc_id").alias("store_doc_id"), "sig")
    cand = (
        _banded(sigs)
        .join(_banded(store, "store_doc_id"), "band")
        .select("doc_id", "store_doc_id")
        .distinct()
    )
    sa = sigs.select("doc_id", F.col("sig").alias("sig_a"))
    sb = store.select("store_doc_id", F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_id")
        .join(sb, "store_doc_id")
        .filter(_agreement(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select("doc_id")
        .distinct()
    )


class NearDupStore:
    """Parquet store of (doc_id, sig, first_seen_batch): flat appends
    under ``path`` plus an optional band-bucketed index under
    ``path/_bands`` built by :meth:`compact` (see module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        threshold: float = DEFAULT_THRESHOLD,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.threshold = threshold
        self.n_buckets = n_buckets

    @property
    def _bands_path(self) -> str:
        return os.path.join(self.path, "_bands")

    def exists(self) -> bool:
        # walk (not listdir): data files may sit in subdirectories; skip
        # hidden/underscore trees so the band index never counts as data
        if not os.path.isdir(self.path):
            return False
        for root, dirs, files in os.walk(self.path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame(
                [], "doc_id long, sig array<long>, first_seen_batch long"
            )
        return self.spark.read.parquet(self.path)

    # -- band-bucketed compaction ------------------------------------

    def _watermark(self) -> int | None:
        """Highest first_seen_batch covered by the band index, or None
        if never compacted."""
        meta = pointer.load(self.path, BANDS_META_NAME, None)
        return None if meta is None else meta["watermark"]

    def compact(self) -> None:
        """Materialize the band-key index: one (band, bucket, doc_id)
        row per admitted doc × band, written partitioned by bucket so a
        later batch's candidate join reads only its touched buckets.
        Idempotent; appends after the recorded watermark stay on the
        row-local tail path until the next compact."""
        store = self.read()
        wm = store.agg(F.max("first_seen_batch")).first()[0]
        if wm is None:  # empty / never-written store: nothing to index
            return
        bands = _banded(store.select("doc_id", "sig")).withColumn(
            "bucket", F.pmod(F.xxhash64("band"), F.lit(self.n_buckets))
        )
        # repartition by bucket: one shuffle sized by the store, each
        # partition directory written once — the maintenance job's cost
        (
            bands.repartition(self.n_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self._bands_path)
        )
        pointer.publish(
            self.path,
            BANDS_META_NAME,
            {"watermark": int(wm), "n_buckets": self.n_buckets},
        )

    def purge(self, doc_ids: list[int]) -> int:
        """Right-to-be-forgotten for the signature store: physically
        remove the given doc_ids' fingerprints; returns how many rows
        were erased.  MinHash signatures are derived from document
        content, so a takedown must erase them too — and a purged
        document must stop REJECTING future near-duplicates of itself
        (the whole point of forgetting it).

        Cost is file-local: the flat store is located via
        ``input_file_name`` and only the part files that actually hold
        a doomed id are rewritten (O(touched files), never a full store
        rewrite).  The band INDEX under ``_bands`` may keep stale
        entries for purged docs until the next :meth:`compact` — they
        are harmless: candidates are verified against the flat store
        (``_reject_against_store`` joins back to :meth:`read`), so a
        stale index row can no longer match anything.  compact()
        rebuilds the index from the purged store and drops them."""
        if not doc_ids or not self.exists():
            return 0
        store = self.spark.read.parquet(self.path).withColumn(
            "_file", F.input_file_name()
        )
        doomed = F.col("doc_id").isin([int(d) for d in doc_ids])
        touched = [
            r[0]
            for r in store.filter(doomed).select("_file").distinct().collect()
        ]
        if not touched:
            return 0
        kept = store.filter(F.col("_file").isin(touched)).filter(~doomed)
        n_before = store.filter(F.col("_file").isin(touched)).count()
        n_kept = kept.count()
        stage = os.path.join(self.path, f".purge-{uuid.uuid4().hex[:8]}")
        kept.drop("_file").write.parquet(stage)
        for f in touched:
            local = f[len("file:") :] if f.startswith("file:") else f
            os.remove(local)
        for part in os.listdir(stage):
            if part.endswith(".parquet"):
                os.rename(
                    os.path.join(stage, part),
                    os.path.join(self.path, f"purged-{uuid.uuid4().hex[:8]}.parquet"),
                )
        shutil.rmtree(stage, ignore_errors=True)
        return n_before - n_kept

    def _store_candidates(self, sigs: DataFrame) -> DataFrame:
        """(doc_id, store_doc_id) candidate pairs of the batch against
        the store — partition-pruned via the band index where compacted,
        row-local banding for the post-watermark tail."""
        batch_banded = _banded(sigs)
        wm = self._watermark()
        if wm is None:
            store = self.read().select(
                F.col("doc_id").alias("store_doc_id"), "sig"
            )
            return (
                batch_banded.join(_banded(store, "store_doc_id"), "band")
                .select("doc_id", "store_doc_id")
                .distinct()
            )
        # bounded driver scalar: ≤ n_buckets distinct ints decide the prune
        buckets = [
            r.bucket
            for r in batch_banded.select(
                F.pmod(F.xxhash64("band"), F.lit(self.n_buckets)).alias("bucket")
            )
            .distinct()
            .collect()
        ]
        index = (
            self.spark.read.parquet(self._bands_path)
            .filter(F.col("bucket").isin(buckets))
            .withColumnRenamed("doc_id", "store_doc_id")
            .select("band", "store_doc_id")
        )
        tail = _banded(
            self.read()
            .filter(F.col("first_seen_batch") > wm)
            .select(F.col("doc_id").alias("store_doc_id"), "sig"),
            "store_doc_id",
        )
        return (
            batch_banded.join(index.unionByName(tail), "band")
            .select("doc_id", "store_doc_id")
            .distinct()
        )

    def _store_pairs(self, sigs: DataFrame) -> DataFrame:
        """Verified (doc_id, store_doc_id) near-dup pairs of the batch
        against the store — candidate generation via
        :meth:`_store_candidates`, then the candidate-bounded
        signature-agreement verify."""
        cand = self._store_candidates(sigs)
        sa = sigs.select("doc_id", F.col("sig").alias("sig_a"))
        sb = self.read().select(
            F.col("doc_id").alias("store_doc_id"), F.col("sig").alias("sig_b")
        )
        return (
            cand.join(sa, "doc_id")
            .join(sb, "store_doc_id")
            .filter(_agreement(F.col("sig_a"), F.col("sig_b")) >= self.threshold)
            .select("doc_id", "store_doc_id")
        )

    def _reject_against_store(self, sigs: DataFrame) -> DataFrame:
        """Batch doc ids near-matching anything admitted."""
        return self._store_pairs(sigs).select("doc_id").distinct()

    def admit_batch(
        self, batch_df: DataFrame, batch_id: int, clusters=None
    ) -> None:
        """Admit the slice of a batch that near-matches nothing admitted
        before it (in the store or earlier — lower doc_id — in the batch).

        With ``clusters`` (an ``IncrementalClusterStore``), every
        VERIFIED pair this batch produced — within-batch and
        batch-vs-store — also folds into the live cluster assignment,
        so dedup decisions and cluster membership stay one system:
        rejected docs are recorded as members of their match's cluster
        even though only the representative's signature is stored.  The
        pair sets are forced BEFORE the store append (they must reflect
        the pre-batch store, not the post-append self-matches) and the
        cluster fold rides its own batch guard, so a replay after a
        crash between append and fold converges."""
        # localCheckpoint (not persist): the signature feeds banding
        # twice (within/cross) plus two verify joins, and EVERY
        # downstream action would otherwise re-run Catalyst analysis
        # over the 64-permutation MinHash expression tree repeated 4+
        # times in its logical plan — measured seconds of pure
        # driver-side planning per action (OPTIMIZATION_r11).  The
        # eager checkpoint materializes once and replaces the lineage
        # with a LogicalRDD, so the admission chain's ~10 actions plan
        # against a 2-column leaf.  (persist alone caches DATA but not
        # the logical plan — the CollapseProject hazard fix from the
        # similarity.py lesson kept the compute right and the planning
        # quadratic.)
        sigs = _signatures(batch_df).localCheckpoint(eager=True)
        wp = sp = None
        try:
            if clusters is not None:
                wp = _within_pairs(sigs, self.threshold).persist()
                sp = self._store_pairs(sigs).persist()
                wp.count(), sp.count()  # force pre-append evaluation
                rejected = (
                    wp.select(F.col("doc_b").alias("doc_id"))
                    .union(sp.select("doc_id"))
                    .distinct()
                )
            else:
                rejected = _reject_within(sigs, self.threshold).union(
                    self._reject_against_store(sigs)
                )
            admitted = (
                sigs.join(rejected, "doc_id", "left_anti")
                .withColumn("first_seen_batch", F.lit(batch_id))
            )
            admitted.write.mode("append").parquet(self.path)
            if clusters is not None:
                pairs = wp.select(
                    F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                ).unionByName(
                    sp.select(
                        F.col("doc_id").alias("a"),
                        F.col("store_doc_id").alias("b"),
                    )
                )
                clusters.apply_batch(pairs, batch_id=batch_id)
        finally:
            sigs.unpersist()
            for df in (wp, sp):
                if df is not None:
                    df.unpersist()


def start_streaming_neardup(
    spark: SparkSession,
    stream: DataFrame,
    store: NearDupStore,
    checkpoint_dir: str,
    clusters=None,
):
    """Wire a documents stream into the store via foreachBatch; with
    ``clusters`` the live cluster assignment rides the same batches."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: store.admit_batch(
                batch_df, batch_id, clusters=clusters
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Batch-checkable gate form: two deterministic micro-batches (even doc_ids
# then odd doc_ids) pushed through the identical admit logic as pure
# DataFrame ops (no filesystem), so the store's admission semantics are
# fully hash-checked against a DuckDB oracle.
# --------------------------------------------------------------------------


def neardup_store_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = DEFAULT_THRESHOLD
    b1 = _signatures(docs.filter(F.col("doc_id") % 2 == 0)).persist()
    b2 = _signatures(docs.filter(F.col("doc_id") % 2 == 1)).persist()
    admitted1 = b1.join(_reject_within(b1, t), "doc_id", "left_anti").persist()
    rejected2 = _reject_within(b2, t).union(
        _reject_against(b2, admitted1.select("doc_id", "sig"), t)
    )
    admitted2 = b2.join(rejected2, "doc_id", "left_anti")
    out = (
        admitted1.select("doc_id", F.lit(1).cast("long").alias("first_seen_batch"))
        .unionAll(admitted2.select("doc_id", F.lit(2).cast("long").alias("first_seen_batch")))
    ).persist()
    try:
        out.count()
    finally:
        b1.unpersist()
        b2.unpersist()
        admitted1.unpersist()
    return out


def _neardup_oracle() -> str:
    from qin_cdc_spark.operators.llm_text import HASH60_SQL, SHINGLES_SQL, WORDS_SQL

    params = "[" + ", ".join(f"[{a}, {b}]" for a, b in perm_params_sql(N_MINHASH)) + "]"
    band_expr = ", ".join(
        "array_to_string([CAST(b AS VARCHAR)"
        + "".join(
            f", CAST(sig[b*{ROWS_PER_BAND}+{r+1}] AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        + "], ',')"
        for _ in range(1)
    )
    agree = (
        f"CAST(len(list_filter(range(1, {N_MINHASH} + 1), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)"
        f" / {N_MINHASH}"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {SHINGLES_SQL.format(w=WORDS_SQL)} AS shingles FROM documents
),
sig AS (
  SELECT doc_id, doc_id % 2 AS par,
         list_transform({params}, p ->
           list_min(list_transform(shingles, s ->
             (p[1] * ({HASH60_SQL.format(x='s')} % {MERSENNE31}) + p[2]) % {MERSENNE31}))
         ) AS sig
  FROM sh
),
banded AS (
  SELECT doc_id, par,
         unnest(list_transform(range(0, {N_BANDS}), b -> {band_expr})) AS band
  FROM sig
),
rej_within AS (  -- per parity batch: higher id of any verified pair
  SELECT DISTINCT y.doc_id
  FROM banded x JOIN banded y ON x.band = y.band AND x.par = y.par
                             AND x.doc_id < y.doc_id
  JOIN sig sa ON sa.doc_id = x.doc_id
  JOIN sig sb ON sb.doc_id = y.doc_id
  WHERE {agree} >= {DEFAULT_THRESHOLD}
),
admitted1 AS (
  SELECT doc_id FROM sig WHERE par = 0
    AND doc_id NOT IN (SELECT doc_id FROM rej_within)
),
rej_cross AS (  -- batch-2 docs matching any admitted batch-1 doc
  SELECT DISTINCT x.doc_id
  FROM banded x JOIN banded y ON x.band = y.band
  JOIN admitted1 a ON y.doc_id = a.doc_id
  JOIN sig sa ON sa.doc_id = x.doc_id
  JOIN sig sb ON sb.doc_id = y.doc_id
  WHERE x.par = 1 AND {agree} >= {DEFAULT_THRESHOLD}
),
admitted2 AS (
  SELECT doc_id FROM sig WHERE par = 1
    AND doc_id NOT IN (SELECT doc_id FROM rej_within)
    AND doc_id NOT IN (SELECT doc_id FROM rej_cross)
)
SELECT doc_id, CAST(1 AS BIGINT) AS first_seen_batch FROM admitted1
UNION ALL
SELECT doc_id, CAST(2 AS BIGINT) AS first_seen_batch FROM admitted2
"""


QUERIES = {"neardup_store_two_batch": neardup_store_two_batch}
ORACLES = {"neardup_store_two_batch": _neardup_oracle()}
