"""Incrementally-maintained BM25 text index over a mutating CDC corpus.

A retrieval index over training data has the same problem every other
derived artifact here has: the corpus MUTATES (re-crawls replace
documents, takedowns delete them), and recomputing posting lists from
scratch per refresh is a full corpus scan.  This maintains the index
from the versioned table's preimage CDF instead:

* **Postings state** ``(doc_id, term, tf, dl)``, hash-bucketed by TERM
  (``hash60(term) % n_buckets``) so (a) a refresh rewrites only the
  buckets the changed documents' terms hash into, and (b) a query
  reads only the buckets its own terms name — the bucket of a term is
  computable DRIVER-side (md5), so the search prunes before any scan,
  the same planning-time-metadata trick as the Bloom index and the
  manifests.  The per-doc length rides denormalized in the posting row
  (every change to a doc retracts ALL its old rows and re-adds from
  the postimage, so dl can never go stale).
* **Replace-by-document delta.**  Term frequencies are not merged
  additively: an update whose per-term tf happens not to change would
  silently keep the OLD dl.  Instead the changed doc_ids' rows are
  anti-joined out of the touched buckets and the postimage postings are
  unioned in — correct by construction for insert/update/delete alike.
  Cost: O(Σ terms of changed docs + touched buckets), never a corpus
  scan (the preimage text is in the CDF, so even locating a deleted
  doc's postings is row-local).
* **Corpus stats** (doc count, total length) are two exact integers
  maintained additively in the meta JSON — published atomically with
  the bucket map, so a crashed refresh can never ship stats from one
  version and postings from another.  ``df`` needs no state at all:
  a query's per-term document frequency is a count over exactly the
  posting rows the query already read.

Scoring (``search``) mirrors ``operators/retrieval.py::text_bm25_topk``
verbatim — Lucene idf, k1/b defaults, per-term and post-sum round-6 —
so the indexed and scan-time formulations are hash-comparable; avgdl is
computed as ``sum_dl / n_docs`` from the exact integers (bit-identical
IEEE division in any engine).

Reference parity: none (qin-cdc has no text surface); this is the
maintained-consumer family (derived.py MVs, ivf.py apply_cdf,
neardup_store) extended to lexical retrieval.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from qin_cdc_spark.functions.text import words
from qin_cdc_spark.streaming import pointer
from qin_cdc_spark.streaming.versioned import VersionedBucketedTable

BM25_META_NAME = "_bm25_index_meta.json"

# scoring constants shared with operators/retrieval.py::text_bm25_topk
BM25_K1 = 1.2
BM25_B = 0.75


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side bucket of a term — MUST mirror the Spark-side
    ``pmod(hash60(term), n_buckets)`` (md5-derived hash60, the repo's
    engine-portable hash)."""
    h = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
    return h % n_buckets


def _hash60(col):
    from qin_cdc_spark.functions.text import hash60

    return hash60(col)


class IncrementalBm25Index:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.n_buckets = n_buckets

    # -- meta / io (snapshot-pointer pattern) -------------------------------

    def _meta(self) -> dict:
        return pointer.load(
            self.path,
            BM25_META_NAME,
            {"applied_version": 0, "buckets": {}, "n_docs": 0, "sum_dl": 0},
        )

    def _publish(self, meta: dict) -> None:
        pointer.publish(self.path, BM25_META_NAME, meta)
        pointer.sweep(self.path, "tx-", set(meta["buckets"].values()))

    def applied_version(self) -> int:
        return self._meta()["applied_version"]

    def stats(self) -> tuple[int, int]:
        m = self._meta()
        return (m["n_docs"], m["sum_dl"])

    # -- postings derivation (row-local) ------------------------------------

    def _postings(self, df: DataFrame, text_expr) -> DataFrame:
        """(id, term, tf, dl) from a document frame — explode + one
        map-side-combinable groupBy; dl rides along so tf never needs a
        corpus-sized join back to a length table."""
        toks = df.select(
            F.col(self.id_col),
            words(F.lower(text_expr)).alias("_w"),
        ).select(
            self.id_col,
            F.size("_w").alias("dl"),
            F.explode("_w").alias("term"),
        )
        return toks.groupBy(self.id_col, "term").agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("dl").cast("long").alias("dl"),
        )

    def _bucket_expr(self):
        return F.pmod(_hash60(F.col("term")), F.lit(self.n_buckets))

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

    def _write_state(
        self, state: DataFrame, touched: list[str] | None, meta: dict
    ) -> dict:
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
                dname = f"tx-{uuid.uuid4().hex[:12]}"
                os.rename(src, os.path.join(self.path, dname))
                new_buckets[b] = dname
            else:
                new_buckets.pop(b, None)
        shutil.rmtree(stage, ignore_errors=True)
        return new_buckets

    # -- refresh ------------------------------------------------------------

    def refresh(self, source: VersionedBucketedTable) -> int:
        meta = self._meta()
        v0, v1 = meta["applied_version"], source.current_version()
        if v1 <= v0:
            return v0
        if v0 == 0 or not meta["buckets"]:
            snap = source.read_at(v1)
            postings = self._postings(snap, F.col(self.text_col)).withColumn(
                "_bucket", self._bucket_expr()
            )
            st = snap.select(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.size(words(F.lower(F.col(self.text_col)))))
                .cast("long")
                .alias("s"),
            ).collect()[0]
            new_buckets = self._write_state(postings, None, meta)
            self._publish(
                {
                    "applied_version": v1,
                    "buckets": new_buckets,
                    "n_docs": int(st.n or 0),
                    "sum_dl": int(st.s or 0),
                }
            )
            return v1

        cdf = source.changes_between(v0, v1, include_preimage=True).persist()
        try:
            post_docs = cdf.filter(F.col("_change").isin("insert", "update"))
            pre_docs = cdf.filter(F.col("_change").isin("update", "delete"))
            new_p = self._postings(post_docs, F.col(self.text_col)).withColumn(
                "_bucket", self._bucket_expr()
            )
            old_terms = self._postings(
                pre_docs, F.col(f"_pre_{self.text_col}")
            ).withColumn("_bucket", self._bucket_expr())
            new_p = new_p.persist()
            old_terms = old_terms.persist()
            try:
                touched = [
                    str(r[0])
                    for r in new_p.select("_bucket")
                    .union(old_terms.select("_bucket"))
                    .distinct()
                    .collect()
                ]
                changed = cdf.select(self.id_col).distinct()
                if touched:
                    old = self.read_state(touched)
                    if old is None:
                        kept = new_p.limit(0).drop("_bucket")
                    else:
                        kept = old.join(
                            F.broadcast(changed), self.id_col, "left_anti"
                        )
                    state_new = kept.withColumn(
                        "_bucket", self._bucket_expr()
                    ).unionByName(new_p)
                    new_buckets = self._write_state(state_new, touched, meta)
                else:
                    new_buckets = dict(meta["buckets"])
                # exact-integer stat deltas — one bounded driver row.
                # coalesce: a NULL text tokenizes to a NULL array (size
                # NULL), which must count as length 0, not poison the
                # whole row's delta
                dl_post = F.coalesce(
                    F.size(words(F.lower(F.col(self.text_col)))), F.lit(0)
                )
                dl_pre = F.coalesce(
                    F.size(words(F.lower(F.col(f"_pre_{self.text_col}")))),
                    F.lit(0),
                )
                d = cdf.select(
                    F.when(F.col("_change") == "insert", 1)
                    .when(F.col("_change") == "delete", -1)
                    .otherwise(0)
                    .alias("dn"),
                    (
                        F.when(
                            F.col("_change").isin("insert", "update"), dl_post
                        ).otherwise(0)
                        - F.when(
                            F.col("_change").isin("update", "delete"), dl_pre
                        ).otherwise(0)
                    ).alias("ds"),
                ).agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds")).collect()[0]
                self._publish(
                    {
                        "applied_version": v1,
                        "buckets": new_buckets,
                        "n_docs": meta["n_docs"] + int(d.dn or 0),
                        "sum_dl": meta["sum_dl"] + int(d.ds or 0),
                    }
                )
                return v1
            finally:
                new_p.unpersist()
                old_terms.unpersist()
        finally:
            cdf.unpersist()

    # -- search -------------------------------------------------------------

    def search(self, terms: list[str], top_k: int = 50) -> DataFrame:
        """BM25 top-K over the index: reads ONLY the buckets the query
        terms hash into (driver-side md5 — planning-time pruning), df
        is counted from those same rows, scoring mirrors
        text_bm25_topk exactly (round-6 per term and post-sum)."""
        meta = self._meta()
        n_docs, sum_dl = meta["n_docs"], meta["sum_dl"]
        buckets = sorted(
            {str(term_bucket(t, self.n_buckets)) for t in terms}
        )
        rows = self.read_state(buckets)
        empty = self.spark.createDataFrame(
            [], f"{self.id_col} long, bm25_r double, rk int"
        )
        if rows is None or n_docs == 0:
            return empty
        tf = rows.filter(F.col("term").isin(*terms)).select(
            self.id_col, "term", "tf", "dl"
        )
        df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        avgdl = F.lit(sum_dl) / F.lit(n_docs)  # exact ints → IEEE division
        scored = tf.join(F.broadcast(df), "term")
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        denom = F.col("tf") + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("dl").cast("double") / avgdl
        )
        term_score = F.round(idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / denom, 6)
        per_doc = (
            scored.withColumn("ts", term_score)
            .groupBy(self.id_col)
            .agg(F.round(F.sum("ts"), 6).alias("bm25_r"))
            .orderBy(F.col("bm25_r").desc(), F.col(self.id_col).asc())
            .limit(top_k)
        )
        w = Window.orderBy(F.col("bm25_r").desc(), F.col(self.id_col).asc())
        return per_doc.withColumn("rk", F.row_number().over(w)).select(
            self.id_col, "bm25_r", "rk"
        )
