"""Incrementally-maintained column statistics — ANALYZE TABLE without
the rescan.

Engines feed their optimizers with per-column stats (row/null counts,
min/max, NDV, quantile histograms); the standard way to get them is a
periodic full-table ANALYZE, which at 100 TB is a scan you schedule and
a freshness you apologize for.  The engine already maintains every one
of those statistics as a retractable MV from the versioned table's
preimage change feed — this module composes them into one maintainer:

* row count, min / max — ``DerivedExtremaTable`` (cnt counts every
  row, NULL-valued ones too; tie-triggered rescan for min / max)
* NDV                  — ``DerivedDistinctTable`` (refcount transitions)
* quantiles + non-null — ``DerivedQuantileTable`` (histogram, no rescan)
* null count           — row count − the histogram's non-null total

``refresh`` folds the same CDF range into each component (each records
its own applied version, so a crash mid-way resumes exactly where it
stopped); ``read`` assembles the one stats row a planner or a data
catalog would ingest.  Per-refresh cost is the sum of the components'
O(delta + touched groups/buckets) — never a table scan outside the
extrema MV's bounded endangered-group rescan.

Stats are grouped by a caller-supplied constant/partition column (a
table tag, or a partition key for per-partition stats), so one
maintainer can track many slices at once.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from qin_cdc_spark.streaming.derived import (
    DerivedDistinctTable,
    DerivedExtremaTable,
    DerivedQuantileTable,
)
from qin_cdc_spark.streaming.versioned import VersionedBucketedTable


class IncrementalColumnStats:
    """ANALYZE-style stats for one integer column, maintained O(delta)
    from a versioned table's change feed."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        value_col: str,
        bin_width: int,
        ndv_buckets: int = 32,
    ):
        self.spark = spark
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.bin_width = bin_width
        self.ext = DerivedExtremaTable(
            spark, os.path.join(path, "ext"), group_cols=group_cols,
            minmax_cols=[value_col],
        )
        self.ndv = DerivedDistinctTable(
            spark, os.path.join(path, "ndv"), group_cols=group_cols,
            value_col=value_col, n_buckets=ndv_buckets,
        )
        self.hist = DerivedQuantileTable(
            spark, os.path.join(path, "hist"), group_cols=group_cols,
            value_col=value_col, bin_width=bin_width,
        )

    def refresh(self, source: VersionedBucketedTable) -> int:
        """Fold the source's new versions into every component; returns
        the applied version.  Each component tracks its own progress, so
        a crash between components resumes idempotently."""
        v = self.ext.refresh(source)
        self.ndv.refresh(source)
        self.hist.refresh(source)
        return v

    def applied_version(self) -> int:
        return min(
            self.ext.applied_version(),
            self.ndv.applied_version(),
            self.hist.applied_version(),
        )

    def rename_columns(self, mapping: dict[str, str]) -> None:
        """Follow an upstream source-column rename: every component MV
        re-binds its spec and rewrites its state (each is idempotent,
        so a crash between components heals on the replayed call)."""
        self.group_cols = [mapping.get(c, c) for c in self.group_cols]
        self.value_col = mapping.get(self.value_col, self.value_col)
        self.ext.rename_columns(mapping)
        self.ndv.rename_columns(mapping)
        self.hist.rename_columns(mapping)

    def read(self) -> DataFrame | None:
        """(group_cols…, n_rows, n_nulls, n_distinct, min, max,
        p50_ub, p90_ub) — the row a planner or catalog ingests."""
        ext = self.ext.read()
        ndv = self.ndv.read()
        q = self.hist.quantiles([("p50_ub", 50, 100), ("p90_ub", 90, 100)])
        if ext is None or ndv is None or q is None:
            return None
        g = self.group_cols
        c = self.value_col
        return (
            ext.select(
                *g,
                F.col("cnt").alias("n_rows"),
                F.col(f"min_{c}").alias("min_val"),
                F.col(f"max_{c}").alias("max_val"),
            )
            .join(
                q.select(
                    *g, F.col("n_rows").alias("_nonnull"), "p50_ub", "p90_ub"
                ),
                g,
                "left",
            )
            .join(ndv.select(*g, "n_distinct"), g, "left")
            .select(
                *g,
                "n_rows",
                (
                    F.col("n_rows") - F.coalesce("_nonnull", F.lit(0))
                ).cast("long").alias("n_nulls"),
                F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
                "min_val",
                "max_val",
                "p50_ub",
                "p90_ub",
            )
        )
