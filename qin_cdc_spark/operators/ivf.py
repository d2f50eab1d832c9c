"""IVF (inverted-file) approximate nearest neighbor — the clustered
scale path for similarity search (north star §2.C), alongside the
sign-LSH variant in operators/similarity.py.

Training is Lloyd's k-means expressed on DataFrames: assignment is a
row-local argmin over broadcast centroid literals (zero shuffle),
centroid update is one groupBy per iteration (dims exploded so the
shuffle carries (cluster, dim, partial-sum), not whole vectors).
Search probes the ``nprobe`` nearest inverted lists and re-ranks by
exact cosine — at 100 TB the corpus is hash-partitioned by cluster id,
so a query touches nprobe partitions instead of the full table.

Iterative + data-dependent (centroids), so genuinely non-SQL-
expressible: the gate entry is rows-only; recall vs brute force is
asserted in tests.  Seeding is deterministic (first k vectors by
vec_id), so results are stable run-to-run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from qin_cdc_spark.functions.vectors import cosine
from qin_cdc_spark.sources.tables import load_table
from qin_cdc_spark.streaming import pointer

K_CLUSTERS = 16
N_ITERS = 5
N_PROBE = 4


def _centroid_lits(centroids: list[list[float]]):
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])


def _assign_expr(centroids: list[list[float]]):
    """Index of the nearest centroid (squared L2), row-local."""
    return _assign_expr_on(centroids, "embedding")


def _assign_expr_on(centroids: list[list[float]], emb_col: str):
    """Same, over a caller-named embedding column."""
    cents = _centroid_lits(centroids)
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(emb_col), c, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.array_position(dists, F.array_min(dists)).cast("int") - 1


def train_kmeans(
    emb: DataFrame,
    k: int = K_CLUSTERS,
    n_iters: int = N_ITERS,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Lloyd iterations; deterministic seed = first k vectors by vec_id.

    ``sample_fraction`` enables mini-batch training (the 100 TB path —
    PLANS.md gap: full Lloyd scans the corpus every iteration): each
    iteration updates centroids from a deterministic hash-sample of the
    corpus, re-drawn per iteration by salting the hash with the
    iteration number (so successive mini-batches see different rows,
    the property mini-batch k-means needs to converge).  Per-iteration
    cost drops from O(n) to O(f·n); the driver still only ever holds
    k×dim floats.  Sampling is xxhash64-based — no RNG, so training is
    replay-deterministic like every other operator here.
    """
    dim = len(emb.select("embedding").first()[0])
    seed_rows = emb.orderBy("vec_id").limit(k).collect()
    centroids = [[float(x) for x in r.embedding] for r in seed_rows]
    for it in range(n_iters):
        batch = emb
        if sample_fraction is not None:
            batch = emb.filter(
                F.pmod(F.xxhash64(F.col("vec_id"), F.lit(it)), 1_000_000)
                < int(sample_fraction * 1_000_000)
            )
        assigned = batch.select(_assign_expr(centroids).alias("cluster"), "embedding")
        sums = (
            assigned.select("cluster", F.posexplode("embedding").alias("d", "val"))
            .groupBy("cluster", "d")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [[0.0] * dim for _ in range(k)]
        counts = [0] * k
        for r in sums:
            new[r.cluster][r.d] = r.s / r.n
            counts[r.cluster] = r.n
        centroids = [
            new[i] if counts[i] > 0 else centroids[i] for i in range(k)
        ]  # empty cluster keeps its old centroid
    return centroids


def _assign_from_col(cents_col, emb_col="embedding"):
    """Index of the nearest centroid when centroids arrive as an
    array<array<double>> COLUMN (broadcast data, not plan literals)."""
    dists = F.transform(
        cents_col,
        lambda c: F.aggregate(
            F.zip_with(F.col(emb_col), c, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _cents_one_row(cents_df: DataFrame) -> DataFrame:
    """(cluster, cvec) rows → one row holding cluster-ordered
    array<array<double>> — the broadcastable assignment operand."""
    return cents_df.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cluster", "cvec"))),
            lambda s: s["cvec"],
        ).alias("cents")
    )


def train_kmeans_df(
    emb: DataFrame,
    k: int = K_CLUSTERS,
    n_iters: int = N_ITERS,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Lloyd's k-means with NO driver-side centroid materialization —
    the large-k path (closes the PLANS.md gap: ``train_kmeans`` collects
    k×dim floats per iteration AND embeds them as plan literals, which
    caps k at ~a few hundred before codegen/plan size explodes).

    Centroids are a (cluster, cvec array<double>) DataFrame end to end:
    assignment cross-joins the corpus with a BROADCAST single-row
    array-of-arrays of all centroids (1-row build side; plan size is
    constant in k, memory is the k×dim broadcast — ~100 MB at k=100k,
    dim=128), and the update is the same posexplode partial-agg shuffle
    with the per-dim means re-assembled into arrays by a second small
    groupBy over k×dim rows.  Empty clusters keep their previous
    centroid via a left join.  The only driver values per iteration are
    a count() that truncates lineage — no data row ever leaves the
    executors.  Same math as ``train_kmeans`` (means in a different
    summation order → float ULP differences only); same deterministic
    seed and hash-based mini-batching."""
    wk = Window.orderBy("vec_id")
    cents = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(wk) - 1).cast("int").alias("cluster"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
        )
        # localCheckpoint, not persist: each round's plan embeds the
        # previous centroids TWICE (assignment broadcast + the carry
        # join), so without a plan LEAF per round the logical plan
        # doubles each iteration and plan analysis/rendering — not the
        # data — becomes the bottleneck (the connected_components
        # lesson, found by its property test)
        .localCheckpoint()
    )
    for it in range(n_iters):
        batch = emb
        if sample_fraction is not None:
            batch = emb.filter(
                F.pmod(F.xxhash64(F.col("vec_id"), F.lit(it)), 1_000_000)
                < int(sample_fraction * 1_000_000)
            )
        assigned = batch.crossJoin(F.broadcast(_cents_one_row(cents))).select(
            _assign_from_col(F.col("cents")).alias("cluster"), "embedding"
        )
        means = (
            assigned.select("cluster", F.posexplode("embedding").alias("d", "val"))
            .groupBy("cluster", "d")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
        )
        new_cents = means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
        nxt = (
            cents.alias("o")
            .join(new_cents.alias("n"), "cluster", "left")
            .select(
                "cluster",
                F.coalesce(F.col("n.cvec"), F.col("o.cvec")).alias("cvec"),
            )
            .localCheckpoint()  # eager: materialized plan leaf per round
        )
        cents = nxt
    return cents


def sim_ann_ivf(
    spark: SparkSession, sf_dir: str, n_probe: int | None = None
) -> DataFrame:
    """IVF search: assign corpus to clusters, probe the nprobe nearest
    clusters per query, exact-cosine re-rank, top-5.

    The gate runs this with ``n_probe = K_CLUSTERS`` (probe every
    list), where IVF is EXACT by construction: the candidate set is the
    whole corpus, so the result must equal brute-force cosine top-5 —
    which a DuckDB oracle recomputes independently.  That hash-checks
    the entire index machinery (k-means convergence feeding assignment,
    inverted-list build, probe/dedup, re-rank, deterministic ranking):
    any vector dropped or double-counted anywhere flips the result.
    Production recall at ``n_probe < K`` is a tuning claim, not a
    correctness claim — it stays measured in tests (test_llm_ops.py
    recall bound).  Scores are rounded to 6 decimals BEFORE ranking so
    both engines agree on ties (cand_id breaks them identically)."""
    if n_probe is None:
        n_probe = K_CLUSTERS
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    centroids = train_kmeans(emb)
    cents = _centroid_lits(centroids)

    # corpus side: one cluster per vector (the inverted lists)
    corpus = emb.select("vec_id", "embedding", _assign_expr(centroids).alias("cluster"))

    # query side: nprobe nearest clusters each
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col("embedding"), c, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    queries = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            dists.alias("cdists"),
        )
        .select(
            "query_id",
            "q_emb",
            F.explode(
                F.slice(F.array_sort(F.col("cdists")), 1, n_probe)
            ).alias("probe_dist"),
            F.col("cdists"),
        )
        .select(
            "query_id",
            "q_emb",
            (F.array_position(F.col("cdists"), F.col("probe_dist")) - 1).cast("int").alias(
                "cluster"
            ),
        )
        .distinct()
    )

    cand = corpus.join(F.broadcast(queries), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cos_r"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "cand_id", "cos_r", "rn")
    )


# probe-all IVF is exact: brute-force cosine top-5, identical rounding
# and (cos_r DESC, cand_id ASC) tie-break.  Elements cast to DOUBLE so
# both engines accumulate in f64.
SIM_ANN_IVF_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
c AS (
  SELECT vec_id AS cand_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
s AS (
  SELECT query_id, cand_id,
         round(list_cosine_similarity(qv, cv), 6) AS cos_r
  FROM q CROSS JOIN c WHERE cand_id <> query_id
),
r AS (
  SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_r DESC, cand_id ASC) AS rn
  FROM s
)
SELECT query_id, cand_id, cos_r, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 5
"""

QUERIES = {"sim_ann_ivf": sim_ann_ivf}
ORACLES: dict[str, str] = {"sim_ann_ivf": SIM_ANN_IVF_ORACLE}


class IvfIndex:
    """Persisted IVF index: centroids (JSON) + cluster-assigned corpus
    (parquet, partitioned by cluster so a probe reads only its lists).
    Closes the PLANS.md gap 'IVF centroids retrain per query call' —
    build once, search many times; at 100 TB the assigned corpus is the
    big artifact and lives partitioned on the cluster key."""

    def __init__(self, path: str):
        self.path = path

    def build(
        self,
        spark: SparkSession,
        sf_dir: str,
        k: int = K_CLUSTERS,
        *,
        distributed: bool = False,
    ) -> None:
        """Train + assign + persist.  ``distributed=True`` uses the
        large-k path end to end (train_kmeans_df + broadcast-column
        assignment + parquet centroid table): nothing k-sized ever
        passes through the driver or the plan, so k scales to ~1e5.
        The default literal path stays for small k (simpler plans,
        JSON centroids artifact)."""
        import json
        import os

        emb = load_table(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism
        )
        os.makedirs(self.path, exist_ok=True)
        if distributed:
            cents_df = train_kmeans_df(emb, k)
            cents_df.write.mode("overwrite").parquet(f"{self.path}/centroids_pq")
            (
                emb.crossJoin(F.broadcast(_cents_one_row(cents_df)))
                .select(
                    "vec_id",
                    "embedding",
                    _assign_from_col(F.col("cents")).alias("cluster"),
                )
                .write.mode("overwrite")
                .partitionBy("cluster")
                .parquet(f"{self.path}/corpus")
            )
            cents_df.unpersist()
            return
        centroids = train_kmeans(emb, k)
        with open(f"{self.path}/centroids.json", "w") as f:
            json.dump(centroids, f)
        emb.select(
            "vec_id", "embedding", _assign_expr(centroids).alias("cluster")
        ).write.mode("overwrite").partitionBy("cluster").parquet(
            f"{self.path}/corpus"
        )

    def _assigned(self, vectors_df: DataFrame, emb_col: str = "embedding") -> DataFrame:
        """(…, cluster) under the persisted centroids — row-local under
        either artifact layout (parquet table broadcast / JSON literals)."""
        import os

        if os.path.isdir(f"{self.path}/centroids_pq"):
            spark = vectors_df.sparkSession
            return vectors_df.crossJoin(
                F.broadcast(_cents_one_row(self.centroids_df(spark)))
            ).withColumn(
                "cluster", _assign_from_col(F.col("cents"), emb_col=emb_col)
            ).drop("cents")
        return vectors_df.withColumn(
            "cluster", _assign_expr_on(self.centroids(), emb_col)
        )

    def add_batch(self, vectors_df: DataFrame) -> None:
        """Incremental ingest: assign new vectors (vec_id, embedding) to
        the EXISTING centroids and append to their inverted lists — the
        continuous-ingest path (new embeddings stream in; retraining is
        a periodic offline job, not a per-batch cost).  Assignment is
        row-local; the append touches only the clusters the batch lands
        in.  Centroids drift from the true k-means of the grown corpus —
        the standard IVF trade-off; rebuild() when recall decays."""
        self._assigned(vectors_df).select(
            "vec_id", "embedding", "cluster"
        ).write.mode("append").partitionBy("cluster").parquet(self._corpus_dir())

    def apply_cdf(self, changes: DataFrame) -> None:
        """Index MAINTENANCE from a change-data-feed batch — closes the
        gap ``add_batch`` leaves open: updates and deletes.

        ``changes``: (vec_id, _change ∈ insert/update/delete,
        embedding [postimage, null for deletes], _pre_embedding
        [preimage, null for inserts]) — exactly what
        ``VersionedBucketedTable.changes_between(include_preimage=True)``
        emits for an embeddings table keyed by vec_id.

        The trick that keeps this O(touched clusters): the STALE row's
        cluster is recomputed ROW-LOCALLY from the preimage embedding
        (assignment under fixed centroids is deterministic), so no
        corpus scan is needed to locate rows to remove.  Touched
        partitions = old ∪ new clusters; each is rewritten as
        (existing − changed vec_ids) ∪ new rows via staged write +
        per-partition ``pointer.swap``, so a replayed batch converges.
        Invariant (tested): the maintained corpus equals a full
        re-assignment of the current snapshot under the same centroids.
        """
        import os
        import shutil
        import uuid

        spark = changes.sparkSession
        changes = changes.persist()
        try:
            new_rows = self._assigned(
                changes.filter(F.col("_change").isin("insert", "update")).select(
                    "vec_id", "embedding"
                )
            ).select("vec_id", "embedding", "cluster")
            old_rows = self._assigned(
                changes.filter(F.col("_change").isin("update", "delete")).select(
                    "vec_id", F.col("_pre_embedding").alias("embedding")
                )
            ).select("vec_id", "cluster")
            new_rows = new_rows.persist()
            old_rows = old_rows.persist()
            touched = sorted(
                {
                    r[0]
                    for r in new_rows.select("cluster")
                    .union(old_rows.select("cluster"))
                    .distinct()
                    .collect()
                }
            )
            if not touched:
                return
            corpus = self._corpus_dir()
            keep = (
                spark.read.parquet(corpus)
                .filter(F.col("cluster").isin([int(c) for c in touched]))
                .join(changes.select("vec_id").distinct(), "vec_id", "left_anti")
            )
            merged = keep.select("vec_id", "embedding", "cluster").unionByName(
                new_rows
            )
            merged = merged.repartition(max(1, len(touched)), F.col("cluster"))
            stage = f"{corpus}.stage-{uuid.uuid4().hex[:8]}"
            merged.write.partitionBy("cluster").parquet(stage)
            for c in touched:
                pointer.swap(
                    os.path.join(stage, f"cluster={c}"),
                    os.path.join(corpus, f"cluster={c}"),
                )
            shutil.rmtree(stage, ignore_errors=True)
            new_rows.unpersist()
            old_rows.unpersist()
        finally:
            changes.unpersist()

    def exists(self) -> bool:
        import os

        return os.path.exists(f"{self.path}/centroids.json") or os.path.isdir(
            f"{self.path}/centroids_pq"
        )

    def centroids(self) -> list[list[float]]:
        import json

        with open(f"{self.path}/centroids.json") as f:
            return json.load(f)

    def centroids_df(self, spark: SparkSession) -> DataFrame:
        """(cluster, cvec) centroid table — parquet artifact when built
        distributed, else the JSON lifted to a DataFrame."""
        import os

        if os.path.isdir(f"{self.path}/centroids_pq"):
            return spark.read.parquet(f"{self.path}/centroids_pq")
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centroids())],
            "cluster int, cvec array<double>",
        )

    def _corpus_dir(self) -> str:
        """The cluster-partitioned corpus dir, with a crashed partition
        swap repaired first."""
        corpus = f"{self.path}/corpus"
        pointer.recover(corpus)
        return corpus

    def corpus(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._corpus_dir())


def ivf_search(
    spark: SparkSession,
    index: IvfIndex,
    queries_df: DataFrame,
    *,
    n_probe: int = N_PROBE,
    top_k: int = 5,
) -> DataFrame:
    """Search a persisted index: probe the n_probe nearest lists per
    query (cluster-partition pruning at scan time), exact-cosine
    re-rank.  queries_df: (query_id, q_emb).  A distributed-built index
    (parquet centroid table) is probed through the broadcast-column
    path — constant plan size in k; a JSON index uses literals."""
    import os

    if os.path.isdir(f"{index.path}/centroids_pq"):
        base = queries_df.crossJoin(
            F.broadcast(_cents_one_row(index.centroids_df(spark)))
        )
        cents = F.col("cents")
    else:
        base = queries_df
        cents = _centroid_lits(index.centroids())
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col("q_emb"), c, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    probes = (
        base.select("query_id", "q_emb", dists.alias("cdists"))
        .select(
            "query_id",
            "q_emb",
            F.explode(F.slice(F.array_sort(F.col("cdists")), 1, n_probe)).alias(
                "probe_dist"
            ),
            F.col("cdists"),
        )
        .select(
            "query_id",
            "q_emb",
            (F.array_position(F.col("cdists"), F.col("probe_dist")) - 1)
            .cast("int")
            .alias("cluster"),
        )
        .distinct()
    )
    cand = index.corpus(spark).join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        # round-6 matches sim_ann_ivf (coarse enough that the DuckDB
        # oracle's f64 cosine agrees on every rounded value)
        F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cos_r"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "cand_id", "cos_r", "rn")
    )
