"""IncrementalColumnStats (streaming/stats.py): ANALYZE-style column
stats maintained O(delta) from the versioned CDF — composition of the
extrema/distinct/quantile MVs into one stats row."""

from __future__ import annotations

import pyspark.sql.functions as F

from qin_cdc_spark.streaming.stats import IncrementalColumnStats
from qin_cdc_spark.streaming.versioned import VersionedBucketedTable


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, val long"
    )


def _recompute(tbl, width):
    out = {}
    rows = tbl.read().collect()
    bygrp: dict = {}
    for r in rows:
        bygrp.setdefault(r.grp, []).append(r.val)
    for g, vals in bygrp.items():
        nn = [v for v in vals if v is not None]
        n = len(vals)
        sv = sorted(nn)

        def ub(p_num, p_den):
            if not sv:
                return None
            total = len(sv)
            cum = 0
            from collections import Counter

            bins = Counter(v // width for v in sv)
            for b in sorted(bins):
                cum += bins[b]
                if cum * p_den >= total * p_num:
                    return (b + 1) * width
            return None

        out[g] = (
            n,
            n - len(nn),
            len(set(nn)),
            min(nn) if nn else None,
            max(nn) if nn else None,
            ub(50, 100),
            ub(90, 100),
        )
    return out


def _view(st):
    out = st.read()
    return {} if out is None else {
        r.grp: (
            r.n_rows, r.n_nulls, r.n_distinct, r.min_val, r.max_val,
            r.p50_ub, r.p90_ub,
        )
        for r in out.collect()
    }


def _mk(spark, tmp_path, width=10):
    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    st = IncrementalColumnStats(
        spark, str(tmp_path / "stats"), group_cols=["grp"], value_col="val",
        bin_width=width, ndv_buckets=4,
    )
    return tbl, st


def test_stats_track_source_through_mutations(spark, tmp_path):
    tbl, st = _mk(spark, tmp_path)
    tbl.merge(
        _changes(
            spark,
            [("insert", i, i, "g%d" % (i % 2), i * 7 if i % 5 else None)
             for i in range(1, 13)],
        )
    )
    assert st.refresh(tbl) == 1
    assert _view(st) == _recompute(tbl, 10)

    # delete a group max, rewrite a value (shared -> ndv holds), group
    # move, null arrival
    tbl.merge(
        _changes(
            spark,
            [
                ("delete", 100, 11, "g1", 77),
                ("update", 101, 2, "g0", 21),
                ("update", 102, 3, "g0", 21),   # duplicate value: ndv
                ("insert", 103, 20, "g1", None),
            ],
        )
    )
    assert st.refresh(tbl) == 2
    assert _view(st) == _recompute(tbl, 10)

    before = _view(st)
    assert st.refresh(tbl) == 2  # idempotent
    assert _view(st) == before


def test_stats_resume_after_partial_refresh(spark, tmp_path):
    """Each component records its own applied version: a crash between
    components (simulated by refreshing only one) leaves the next
    refresh to bring the stragglers up — never a double-apply."""
    tbl, st = _mk(spark, tmp_path)
    tbl.merge(_changes(spark, [("insert", 1, 1, "g", 5), ("insert", 2, 2, "g", 9)]))
    st.refresh(tbl)
    tbl.merge(_changes(spark, [("delete", 10, 2, "g", 9), ("insert", 11, 3, "g", 13)]))
    st.ext.refresh(tbl)  # "crash" after the first component
    assert st.applied_version() == 1  # stragglers pin the floor
    st.refresh(tbl)  # ext no-ops on its guard; the rest catch up
    assert st.applied_version() == 2
    assert _view(st) == _recompute(tbl, 10)
