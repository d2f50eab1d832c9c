"""DerivedAggTable (streaming/derived.py): incrementally-maintained
materialized view over a versioned CDC target — retraction semantics,
group-moving updates, idempotent refresh, crash-safe publish."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from qin_cdc_spark.streaming.derived import DerivedAggTable
from qin_cdc_spark.streaming.versioned import VersionedBucketedTable


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, amt long"
    )


def _recompute(tbl):
    return {
        (r.grp): (r.cnt, r.s)
        for r in tbl.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("amt").alias("s"))
        .collect()
    }


def _view(mv):
    return {(r.grp): (r.cnt, r.sum_amt) for r in mv.read().collect()}


def test_derived_agg_tracks_source_through_mutations(spark, tmp_path):
    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedAggTable(
        spark, str(tmp_path / "mv"), group_cols=["grp"], sum_cols=["amt"]
    )
    # bootstrap refresh from the first snapshot
    tbl.merge(_changes(spark, [("insert", i, i, "g%d" % (i % 3), i * 10) for i in range(1, 10)]))
    assert mv.refresh(tbl) == 1
    assert _view(mv) == _recompute(tbl)

    # update (in place), update (group move), delete, insert — one batch
    tbl.merge(
        _changes(
            spark,
            [
                ("update", 100, 1, "g1", 999),
                ("update", 101, 2, "g0", 555),  # g2 → g0
                ("delete", 102, 3, "g0", 30),
                ("insert", 103, 11, "g2", 70),
            ],
        )
    )
    # a second batch on top before refreshing: net CDF across 2 versions
    tbl.merge(_changes(spark, [("update", 200, 11, "g0", 71)]))  # g2 → g0 again
    assert mv.refresh(tbl) == 3
    assert _view(mv) == _recompute(tbl)

    # idempotent: nothing new → no-op, same state
    before = _view(mv)
    assert mv.refresh(tbl) == 3
    assert _view(mv) == before


def test_derived_agg_drops_emptied_groups(spark, tmp_path):
    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedAggTable(
        spark, str(tmp_path / "mv"), group_cols=["grp"], sum_cols=["amt"]
    )
    tbl.merge(_changes(spark, [("insert", 1, 1, "solo", 5), ("insert", 2, 2, "dual", 7)]))
    mv.refresh(tbl)
    tbl.merge(_changes(spark, [("delete", 10, 1, "solo", 5)]))
    mv.refresh(tbl)
    got = _view(mv)
    assert "solo" not in got and got["dual"] == (1, 7)


def test_derived_mv_refreshes_inside_the_stream(spark, tmp_path):
    """post_batch hook: the MV refreshes within each micro-batch of a
    running CDC stream over a versioned route and ends equal to the
    full recompute."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import (
        CdcStreamRoute,
        file_envelope_stream,
        start_cdc_stream,
    )
    from pyspark.sql.types import _parse_datatype_string

    env_dir = str(tmp_path / "env")
    typed1 = _changes(spark, [("insert", i, i, "g%d" % (i % 2), i) for i in range(1, 7)])
    typed2 = _changes(spark, [("update", 10, 1, "g1", 100), ("delete", 11, 2, "g0", 2)])
    for t in (typed1, typed2):
        envelope_from_typed(t.select("id", "grp", "amt", "op", "seq"), db="src", table="t").coalesce(1).write.mode(
            "append"
        ).parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=_parse_datatype_string("id long, grp string, amt long"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        versioned=True,
    )
    mv = DerivedAggTable(
        spark, str(tmp_path / "mv"), group_cols=["grp"], sum_cols=["amt"]
    )

    def post_batch(batch_id):
        if route.target is not None and route.target.exists():
            mv.refresh(route.target)

    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=post_batch,
    )
    q.awaitTermination(300)
    assert mv.applied_version() == route.target.current_version()
    assert _view(mv) == _recompute(route.target)


# -- DerivedJoinTable ---------------------------------------------------------


def _fact_changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, ck long, amt long"
    )


def _dim_changes(spark, rows):
    return spark.createDataFrame(rows, "op string, seq long, ck long, name string")


def _mv_rows(jt):
    df = jt.read()
    return (
        set()
        if df is None
        else {(r.id, r.ck, r.amt, r.name) for r in df.collect()}
    )


def _join_recompute(fact, dim):
    f, d = fact.read(), dim.read()
    return {
        (r.id, r.ck, r.amt, r.name)
        for r in f.join(d, f.ck == d.ck, "inner").drop(d.ck).collect()
    }


def _mk_join(spark, tmp_path, **kw):
    from qin_cdc_spark.streaming.derived import DerivedJoinTable

    fact = VersionedBucketedTable(
        spark, str(tmp_path / "fact"), ["id"], n_buckets=4, **kw
    )
    dim = VersionedBucketedTable(spark, str(tmp_path / "dim"), ["ck"], n_buckets=4)
    jt = DerivedJoinTable(
        spark,
        str(tmp_path / "jmv"),
        fact_keys=["id"],
        join_col="ck",
        dim_key="ck",
        n_buckets=4,
    )
    return fact, dim, jt


def test_join_mv_tracks_both_change_feeds(spark, tmp_path):
    """Incremental == recompute through dim updates/deletes, fact
    FK moves, fact deletes, and dim inserts adopting orphan facts."""
    fact, dim, jt = _mk_join(spark, tmp_path)
    dim.merge(_dim_changes(spark, [("insert", 1, 10, "a"), ("insert", 2, 20, "b")]))
    fact.merge(
        _fact_changes(
            spark,
            [
                ("insert", 1, 1, 10, 100),
                ("insert", 2, 2, 20, 200),
                ("insert", 3, 3, 30, 300),  # orphan: no dim 30 yet
            ],
        )
    )
    jt.refresh(fact, dim)
    assert _mv_rows(jt) == _join_recompute(fact, dim)
    assert (1, 10, 100, "a") in _mv_rows(jt) and len(_mv_rows(jt)) == 2

    # dim update (name change) + dim insert adopting the orphan fact
    dim.merge(_dim_changes(spark, [("update", 3, 10, "a2"), ("insert", 4, 30, "c")]))
    jt.refresh(fact, dim)
    assert _mv_rows(jt) == _join_recompute(fact, dim)
    assert (3, 30, 300, "c") in _mv_rows(jt)

    # fact FK move (2: 20 -> 10), fact delete (1), dim delete (30)
    fact.merge(
        _fact_changes(spark, [("update", 4, 2, 10, 250), ("delete", 5, 1, 10, 0)])
    )
    dim.merge(_dim_changes(spark, [("delete", 5, 30, "c")]))
    jt.refresh(fact, dim)
    assert _mv_rows(jt) == _join_recompute(fact, dim)
    assert _mv_rows(jt) == {(2, 10, 250, "a2")}

    # no-op refresh: applied versions unchanged, MV unchanged
    before = jt.applied_versions()
    assert jt.refresh(fact, dim) == before
    assert _mv_rows(jt) == {(2, 10, 250, "a2")}


def test_join_mv_bloom_pruned_probe_matches_semijoin(spark, tmp_path):
    """With bloom_cols on the fact FK the Δdim probe takes the
    read_where path; result must equal the semi-join fallback."""
    fact, dim, jt = _mk_join(spark, tmp_path, bloom_cols=["ck"])
    dim.merge(
        _dim_changes(spark, [("insert", i, i, f"n{i}") for i in range(1, 9)])
    )
    fact.merge(
        _fact_changes(
            spark,
            [("insert", 100 + i, i, (i % 8) + 1, i * 10) for i in range(1, 33)],
        )
    )
    jt.refresh(fact, dim)
    assert _mv_rows(jt) == _join_recompute(fact, dim)
    # dim-only change: probe path exercises read_where(ck, changed keys)
    dim.merge(_dim_changes(spark, [("update", 50, 3, "n3b"), ("delete", 51, 5, "")]))
    jt.refresh(fact, dim)
    assert _mv_rows(jt) == _join_recompute(fact, dim)
    assert all(r[3] == "n3b" for r in _mv_rows(jt) if r[1] == 3)
    assert not any(r[1] == 5 for r in _mv_rows(jt))


def test_join_mv_refresh_is_idempotent_after_crash_window(spark, tmp_path):
    """A crash between merge and meta publish replays the same CDF
    range; the LWW merge converges to the same MV."""
    fact, dim, jt = _mk_join(spark, tmp_path)
    dim.merge(_dim_changes(spark, [("insert", 1, 10, "a")]))
    fact.merge(_fact_changes(spark, [("insert", 1, 1, 10, 100)]))
    jt.refresh(fact, dim)
    fact.merge(_fact_changes(spark, [("update", 2, 1, 10, 150)]))
    # simulate the crash: run the merge work, then REVERT the meta so
    # the next refresh replays the same range
    meta_before = jt._meta()
    jt.refresh(fact, dim)
    jt._publish(meta_before)
    jt.refresh(fact, dim)  # replay
    assert _mv_rows(jt) == {(1, 10, 150, "a")}


def test_join_mv_refreshes_inside_the_stream(spark, tmp_path):
    """Two versioned routes (fact + dim) in ONE stream; the post_batch
    hook refreshes the join MV after every micro-batch, and the final
    MV equals the recompute join — the engine-side closure of what the
    reference leaves to the downstream warehouse."""
    from pyspark.sql.types import _parse_datatype_string

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import (
        CdcStreamRoute,
        file_envelope_stream,
        start_cdc_stream,
    )
    from qin_cdc_spark.streaming.derived import DerivedJoinTable

    env_dir = str(tmp_path / "env")
    fact1 = _fact_changes(spark, [("insert", i, i, 10 + (i % 2) * 10, i * 100) for i in range(1, 5)])
    dim1 = _dim_changes(spark, [("insert", 1, 10, "a"), ("insert", 2, 20, "b")])
    fact2 = _fact_changes(spark, [("update", 10, 1, 20, 150), ("delete", 11, 2, 20, 0)])
    dim2 = _dim_changes(spark, [("update", 12, 10, "a2"), ("delete", 13, 20, "b")])
    for t, db, tbl, cols in (
        (fact1, "src", "fact", ["id", "ck", "amt"]),
        (dim1, "src", "dim", ["ck", "name"]),
        (fact2, "src", "fact", ["id", "ck", "amt"]),
        (dim2, "src", "dim", ["ck", "name"]),
    ):
        envelope_from_typed(
            t.select(*cols, "op", "seq"), db=db, table=tbl
        ).coalesce(1).write.mode("append").parquet(env_dir)

    fact_route = CdcStreamRoute(
        spark, db="src", table="fact",
        schema=_parse_datatype_string("id long, ck long, amt long"),
        keys=["id"], target_path=str(tmp_path / "fact"), versioned=True,
    )
    dim_route = CdcStreamRoute(
        spark, db="src", table="dim",
        schema=_parse_datatype_string("ck long, name string"),
        keys=["ck"], target_path=str(tmp_path / "dim"), versioned=True,
    )
    jt = DerivedJoinTable(
        spark, str(tmp_path / "jmv"),
        fact_keys=["id"], join_col="ck", dim_key="ck", n_buckets=4,
    )

    def post_batch(batch_id):
        if (
            fact_route.target is not None and fact_route.target.exists()
            and dim_route.target is not None and dim_route.target.exists()
        ):
            jt.refresh(fact_route.target, dim_route.target)

    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [fact_route, dim_route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=post_batch,
    )
    q.awaitTermination(300)
    assert jt.applied_versions() == (
        fact_route.target.current_version(),
        dim_route.target.current_version(),
    )
    f, d = fact_route.target.read(), dim_route.target.read()
    expect = {
        (r.id, r.ck, r.amt, r.name)
        for r in f.join(d, f.ck == d.ck, "inner").drop(d.ck).collect()
    }
    assert _mv_rows(jt) == expect and expect  # non-trivial final state


# -- DerivedExtremaTable ------------------------------------------------------


def _ext_changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, val long"
    )


def _ext_recompute(tbl):
    return {
        r.grp: (r.cnt, r.min_val, r.max_val)
        for r in tbl.read()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .collect()
    }


def _ext_view(mv):
    return {r.grp: (r.cnt, r.min_val, r.max_val) for r in mv.read().collect()}


def _mk_ext(spark, tmp_path):
    from qin_cdc_spark.streaming.derived import DerivedExtremaTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedExtremaTable(
        spark, str(tmp_path / "emv"), group_cols=["grp"], minmax_cols=["val"]
    )
    return tbl, mv


def test_extrema_tracks_source_through_mutations(spark, tmp_path):
    tbl, mv = _mk_ext(spark, tmp_path)
    tbl.merge(
        _ext_changes(
            spark, [("insert", i, i, "g%d" % (i % 3), i * 10) for i in range(1, 10)]
        )
    )
    assert mv.refresh(tbl) == 1
    assert _ext_view(mv) == _ext_recompute(tbl)

    # one batch hitting every maintenance path: raise a max in place,
    # lower a max in place (tie → rescan), move a row between groups,
    # delete a group's min (tie → rescan), delete a middle value,
    # insert a new group
    tbl.merge(
        _ext_changes(
            spark,
            [
                ("update", 100, 1, "g1", 999),   # new max for g1
                ("update", 101, 9, "g0", 5),     # g0's max 90 → 5
                ("update", 102, 2, "g0", 20),    # g2 → g0 (move)
                ("delete", 103, 3, "g0", 30),    # g0's min retracted
                ("delete", 104, 5, "g2", 50),    # middle value
                ("insert", 105, 11, "gx", -7),
            ],
        )
    )
    assert mv.refresh(tbl) == 2
    assert _ext_view(mv) == _ext_recompute(tbl)

    # two source batches folded by ONE refresh (net CDF across versions)
    tbl.merge(_ext_changes(spark, [("update", 200, 11, "gx", -70)]))
    tbl.merge(_ext_changes(spark, [("delete", 201, 11, "gx", None)]))
    assert mv.refresh(tbl) == 4
    got = _ext_view(mv)
    assert got == _ext_recompute(tbl) and "gx" not in got

    # idempotent no-op
    before = _ext_view(mv)
    assert mv.refresh(tbl) == 4
    assert _ext_view(mv) == before


def test_extrema_non_tying_retraction_skips_rescan(spark, tmp_path):
    """The whole point of the design: a retraction that cannot displace
    a stored extremum must take the O(1) merge — no source scan."""
    tbl, mv = _mk_ext(spark, tmp_path)
    tbl.merge(
        _ext_changes(
            spark,
            [("insert", i, i, "g", v) for i, v in [(1, 10), (2, 50), (3, 90)]],
        )
    )
    mv.refresh(tbl)
    tbl.merge(_ext_changes(spark, [("delete", 10, 2, "g", 50)]))

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("non-tying retraction triggered a rescan")

    mv._rescan_rows = boom
    assert mv.refresh(tbl) == 2
    assert _ext_view(mv) == {"g": (2, 10, 90)} == _ext_recompute(tbl)


def test_extrema_tying_retraction_rescans_only_endangered_groups(spark, tmp_path):
    tbl, mv = _mk_ext(spark, tmp_path)
    tbl.merge(
        _ext_changes(
            spark,
            [
                ("insert", 1, 1, "a", 10),
                ("insert", 2, 2, "a", 20),
                ("insert", 3, 3, "b", 5),
                ("insert", 4, 4, "b", 15),
            ],
        )
    )
    mv.refresh(tbl)
    # delete a's min; touch b with a non-tying middle insert only
    tbl.merge(
        _ext_changes(
            spark, [("delete", 10, 1, "a", 10), ("insert", 11, 5, "b", 9)]
        )
    )
    seen = []
    orig = mv._rescan_rows

    def spy(source, groups, version):
        seen.extend(r.grp for r in groups.collect())
        return orig(source, groups, version)

    mv._rescan_rows = spy
    mv.refresh(tbl)
    assert seen == ["a"]
    assert _ext_view(mv) == _ext_recompute(tbl) == {
        "a": (1, 20, 20),
        "b": (3, 5, 15),
    }


def test_extrema_null_values_and_intra_range_churn(spark, tmp_path):
    """SQL null semantics + the adversarial intra-refresh cases: values
    inserted AND retracted within one CDF range must not surface as
    extrema, even when the stored extremum is NULL (all-null group) or
    the group is born inside the range."""
    tbl, mv = _mk_ext(spark, tmp_path)
    # group n: all-null values; group g: normal
    tbl.merge(
        _ext_changes(
            spark,
            [
                ("insert", 1, 1, "n", None),
                ("insert", 2, 2, "n", None),
                ("insert", 3, 3, "g", 10),
            ],
        )
    )
    mv.refresh(tbl)
    assert _ext_view(mv) == {"n": (2, None, None), "g": (1, 10, 10)}

    # within ONE refresh range: give n a real value then take it away
    # (stored extremum is null — the null-comparison trap), and birth
    # group h with {5, 7} then delete the 5 (new-group trap)
    tbl.merge(
        _ext_changes(
            spark,
            [("insert", 10, 4, "n", 77), ("insert", 11, 5, "h", 5),
             ("insert", 12, 6, "h", 7)],
        )
    )
    tbl.merge(
        _ext_changes(
            spark,
            [("delete", 20, 4, "n", None), ("delete", 21, 5, "h", None)],
        )
    )
    mv.refresh(tbl)
    assert _ext_view(mv) == _ext_recompute(tbl) == {
        "n": (2, None, None),
        "g": (1, 10, 10),
        "h": (1, 7, 7),
    }

    # retracting a null never endangers; group emptied entirely drops
    tbl.merge(
        _ext_changes(
            spark, [("delete", 30, 1, "n", None), ("delete", 31, 2, "n", None)]
        )
    )
    mv.refresh(tbl)
    got = _ext_view(mv)
    assert "n" not in got and got == _ext_recompute(tbl)


def test_extrema_random_mutations_match_full_recompute(spark, tmp_path):
    """Property check: N rounds of seeded-random insert/update/delete
    (group moves, nulls, extremum hits, emptied groups) — after every
    refresh the MV equals a from-scratch min/max/count recompute of the
    source's current LWW state."""
    import random

    rng = random.Random(0xE57)
    tbl, mv = _mk_ext(spark, tmp_path)
    groups = ["a", "b", "c"]
    live: dict[int, tuple[str, int | None]] = {}
    seq = 0
    next_id = 0
    for _ in range(6):
        batch = []
        for _ in range(rng.randint(3, 12)):
            seq += 1
            kind = rng.random()
            if kind < 0.45 or not live:
                next_id += 1
                g = rng.choice(groups)
                v = None if rng.random() < 0.2 else rng.randint(0, 9) * 10
                live[next_id] = (g, v)
                batch.append(("insert", seq, next_id, g, v))
            elif kind < 0.75:
                i = rng.choice(list(live))
                g = rng.choice(groups)  # may move groups
                v = None if rng.random() < 0.2 else rng.randint(0, 9) * 10
                live[i] = (g, v)
                batch.append(("update", seq, i, g, v))
            else:
                i = rng.choice(list(live))
                g, v = live.pop(i)
                batch.append(("delete", seq, i, g, v))
        tbl.merge(_ext_changes(spark, batch))
        mv.refresh(tbl)
        assert _ext_view(mv) == _ext_recompute(tbl)


def test_extrema_mv_refreshes_inside_the_stream(spark, tmp_path):
    """post_batch hook parity with the agg/join MVs: the extrema view
    refreshes within each micro-batch of a running CDC stream over a
    versioned route and ends equal to the full min/max/count recompute
    — including a batch that deletes a group's stored extremum."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import (
        CdcStreamRoute,
        file_envelope_stream,
        start_cdc_stream,
    )
    from qin_cdc_spark.streaming.derived import DerivedExtremaTable
    from pyspark.sql.types import _parse_datatype_string

    env_dir = str(tmp_path / "env")
    typed1 = _ext_changes(
        spark, [("insert", i, i, "g%d" % (i % 2), i * 10) for i in range(1, 7)]
    )
    # batch 2 deletes g0's max (id 6, val 60) and g1's min (id 1, val 10)
    typed2 = _ext_changes(
        spark, [("delete", 10, 6, "g0", 60), ("delete", 11, 1, "g1", 10)]
    )
    for t in (typed1, typed2):
        envelope_from_typed(
            t.select("id", "grp", "val", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=_parse_datatype_string("id long, grp string, val long"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        versioned=True,
    )
    mv = DerivedExtremaTable(
        spark, str(tmp_path / "emv"), group_cols=["grp"], minmax_cols=["val"]
    )

    def post_batch(batch_id):
        if route.target is not None and route.target.exists():
            mv.refresh(route.target)

    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=post_batch,
    )
    q.awaitTermination(300)
    assert mv.applied_version() == route.target.current_version()
    assert _ext_view(mv) == _ext_recompute(route.target) == {
        "g0": (2, 20, 40),
        "g1": (2, 30, 50),
    }


def test_extrema_rescan_uses_bloom_pruned_probe(spark, tmp_path):
    """With bloom_cols on the single group column, the endangered-group
    rescan goes through read_where (Bloom data skipping) and matches
    the semi-join fallback's result exactly."""
    from qin_cdc_spark.streaming.derived import DerivedExtremaTable

    tbl = VersionedBucketedTable(
        spark, str(tmp_path / "src"), ["id"], n_buckets=4, bloom_cols=["grp"]
    )
    mv = DerivedExtremaTable(
        spark, str(tmp_path / "emv"), group_cols=["grp"], minmax_cols=["val"]
    )
    tbl.merge(
        _ext_changes(
            spark, [("insert", i, i, "g%d" % (i % 3), i * 10) for i in range(1, 13)]
        )
    )
    mv.refresh(tbl)
    # delete g0's current min (id 3, val 30) → tie → rescan via bloom path
    tbl.merge(_ext_changes(spark, [("delete", 100, 3, "g0", 30)]))
    calls = []
    orig_read_where = tbl.read_where

    def spy(col, values, version=None):
        calls.append((col, sorted(values)))
        return orig_read_where(col, values, version=version)

    tbl.read_where = spy
    mv.refresh(tbl)
    assert calls == [("grp", ["g0"])]
    assert _ext_view(mv) == _ext_recompute(tbl)


def test_extrema_nonstring_group_key_falls_back_to_semijoin(spark, tmp_path):
    """A bloom-indexed group column whose key type the Bloom renderer
    rejects (e.g. boolean) must fall through to the semi-join probe
    instead of failing the refresh (ADVICE round-4)."""
    from qin_cdc_spark.streaming.derived import DerivedExtremaTable

    tbl = VersionedBucketedTable(
        spark, str(tmp_path / "src"), ["id"], n_buckets=2, bloom_cols=["flag"]
    )
    mv = DerivedExtremaTable(
        spark, str(tmp_path / "emv"), group_cols=["flag"], minmax_cols=["val"]
    )
    rows = spark.createDataFrame(
        [("insert", 1, 1, True, 10), ("insert", 2, 2, True, 20),
         ("insert", 3, 3, False, 5)],
        "op string, seq long, id long, flag boolean, val long",
    )
    tbl.merge(rows)
    mv.refresh(tbl)
    tbl.merge(
        spark.createDataFrame(
            [("delete", 10, 1, True, 10)],
            "op string, seq long, id long, flag boolean, val long",
        )
    )
    mv.refresh(tbl)  # must not raise
    assert {r.flag: (r.cnt, r.min_val, r.max_val) for r in mv.read().collect()} == {
        True: (1, 20, 20),
        False: (1, 5, 5),
    }


# -- DerivedDistinctTable -----------------------------------------------------


def _dd_changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, val string"
    )


def _dd_recompute(tbl):
    return {
        r.grp: r.n
        for r in tbl.read()
        .groupBy("grp")
        .agg(F.count_distinct("val").alias("n"))
        .filter(F.col("n") > 0)
        .collect()
    }


def _dd_view(mv):
    out = mv.read()
    return {} if out is None else {r.grp: r.n_distinct for r in out.collect()}


def _mk_dd(spark, tmp_path, **kw):
    from qin_cdc_spark.streaming.derived import DerivedDistinctTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedDistinctTable(
        spark, str(tmp_path / "dmv"), group_cols=["grp"], value_col="val",
        n_buckets=kw.get("n_buckets", 8),
    )
    return tbl, mv


def test_distinct_tracks_source_through_mutations(spark, tmp_path):
    tbl, mv = _mk_dd(spark, tmp_path)
    # refcounts > 1: values shared across rows within a group
    tbl.merge(
        _dd_changes(
            spark,
            [("insert", i, i, "g%d" % (i % 2), "v%d" % (i % 3)) for i in range(1, 9)],
        )
    )
    assert mv.refresh(tbl) == 1
    assert _dd_view(mv) == _dd_recompute(tbl)

    # one batch: group-moving update, value-changing update, delete of a
    # shared value (refcount 2→1: distinct count must NOT drop), delete
    # of a unique value (refcount 1→0: must drop), insert of a new value
    tbl.merge(
        _dd_changes(
            spark,
            [
                ("update", 100, 1, "g0", "v1"),   # g1→g0 move
                ("update", 101, 2, "g0", "v9"),   # value change
                ("delete", 102, 3, "g1", "v0"),
                ("delete", 103, 4, "g0", "v1"),
                ("insert", 104, 11, "g1", "vX"),
            ],
        )
    )
    assert mv.refresh(tbl) == 2
    assert _dd_view(mv) == _dd_recompute(tbl)

    # two source batches folded by one refresh; nulls never count
    tbl.merge(_dd_changes(spark, [("insert", 200, 12, "g0", None)]))
    tbl.merge(_dd_changes(spark, [("update", 201, 12, "g0", "vY")]))
    assert mv.refresh(tbl) == 4
    assert _dd_view(mv) == _dd_recompute(tbl)

    before = _dd_view(mv)
    assert mv.refresh(tbl) == 4  # idempotent no-op
    assert _dd_view(mv) == before


def test_distinct_refcount_semantics_exact(spark, tmp_path):
    """The refcount is the point: deleting ONE of two rows sharing a
    value keeps the distinct count; deleting the second drops it."""
    tbl, mv = _mk_dd(spark, tmp_path)
    tbl.merge(
        _dd_changes(
            spark,
            [("insert", 1, 1, "g", "a"), ("insert", 2, 2, "g", "a"),
             ("insert", 3, 3, "g", "b")],
        )
    )
    mv.refresh(tbl)
    assert _dd_view(mv) == {"g": 2}
    tbl.merge(_dd_changes(spark, [("delete", 10, 1, "g", "a")]))
    mv.refresh(tbl)
    assert _dd_view(mv) == {"g": 2}  # 'a' still carried by id 2
    tbl.merge(_dd_changes(spark, [("delete", 11, 2, "g", "a")]))
    mv.refresh(tbl)
    assert _dd_view(mv) == {"g": 1}
    state = {(r.grp, r.val): r.refs for r in mv.read_state().collect()}
    assert state == {("g", "b"): 1}  # zero-ref rows physically dropped


def test_distinct_touches_only_delta_buckets(spark, tmp_path):
    """Scale contract: a refresh rewrites only the state buckets the
    delta hashes into — untouched bucket dirs are carried by name."""
    tbl, mv = _mk_dd(spark, tmp_path, n_buckets=16)
    tbl.merge(
        _dd_changes(
            spark,
            [("insert", i, i, "g%d" % (i % 4), "v%d" % i) for i in range(1, 33)],
        )
    )
    mv.refresh(tbl)
    before = dict(mv._meta()["buckets"])
    tbl.merge(_dd_changes(spark, [("insert", 100, 100, "g0", "fresh")]))
    mv.refresh(tbl)
    after = dict(mv._meta()["buckets"])
    changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    assert 1 <= len(changed) <= 2  # the delta landed in at most 2 buckets
    assert _dd_view(mv) == _dd_recompute(tbl)


def test_distinct_drops_emptied_groups(spark, tmp_path):
    tbl, mv = _mk_dd(spark, tmp_path)
    tbl.merge(
        _dd_changes(
            spark, [("insert", 1, 1, "solo", "x"), ("insert", 2, 2, "dual", "y")]
        )
    )
    mv.refresh(tbl)
    tbl.merge(_dd_changes(spark, [("delete", 10, 1, "solo", "x")]))
    mv.refresh(tbl)
    assert _dd_view(mv) == {"dual": 1}


def test_distinct_random_mutations_match_full_recompute(spark, tmp_path):
    import random

    rng = random.Random(0xD157)
    tbl, mv = _mk_dd(spark, tmp_path)
    groups = ["a", "b"]
    vals = ["v%d" % i for i in range(4)]  # small pool → refcounts pile up
    live: dict[int, tuple[str, str | None]] = {}
    seq = 0
    next_id = 0
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(3, 10)):
            seq += 1
            kind = rng.random()
            if kind < 0.45 or not live:
                next_id += 1
                g, v = rng.choice(groups), (
                    None if rng.random() < 0.15 else rng.choice(vals)
                )
                live[next_id] = (g, v)
                batch.append(("insert", seq, next_id, g, v))
            elif kind < 0.75:
                i = rng.choice(list(live))
                g, v = rng.choice(groups), (
                    None if rng.random() < 0.15 else rng.choice(vals)
                )
                live[i] = (g, v)
                batch.append(("update", seq, i, g, v))
            else:
                i = rng.choice(list(live))
                g, v = live.pop(i)
                batch.append(("delete", seq, i, g, v))
        tbl.merge(_dd_changes(spark, batch))
        mv.refresh(tbl)
        assert _dd_view(mv) == _dd_recompute(tbl)


def test_distinct_mv_refreshes_inside_the_stream(spark, tmp_path):
    """post_batch hook parity for the distinct MV: refcounts maintained
    within each micro-batch; a later batch deletes one of two rows
    sharing a value (count must hold) and the last row of another
    (count must drop)."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import (
        CdcStreamRoute,
        file_envelope_stream,
        start_cdc_stream,
    )
    from qin_cdc_spark.streaming.derived import DerivedDistinctTable
    from pyspark.sql.types import _parse_datatype_string

    env_dir = str(tmp_path / "env")
    typed1 = _dd_changes(
        spark,
        [("insert", 1, 1, "g", "a"), ("insert", 2, 2, "g", "a"),
         ("insert", 3, 3, "g", "b"), ("insert", 4, 4, "h", "x")],
    )
    typed2 = _dd_changes(
        spark, [("delete", 10, 1, "g", "a"), ("delete", 11, 3, "g", "b")]
    )
    for t in (typed1, typed2):
        envelope_from_typed(
            t.select("id", "grp", "val", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=_parse_datatype_string("id long, grp string, val string"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        versioned=True,
    )
    mv = DerivedDistinctTable(
        spark, str(tmp_path / "dmv"), group_cols=["grp"], value_col="val",
        n_buckets=4,
    )

    def post_batch(batch_id):
        if route.target is not None and route.target.exists():
            mv.refresh(route.target)

    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=post_batch,
    )
    q.awaitTermination(300)
    assert mv.applied_version() == route.target.current_version()
    assert _dd_view(mv) == _dd_recompute(route.target) == {"g": 1, "h": 1}


# -- DerivedQuantileTable ------------------------------------------------------


def _qt_changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, val long"
    )


def _qt_state(mv):
    out = mv.read()
    return {} if out is None else {
        (r.grp, r.bin): r.cnt for r in out.collect()
    }


def _qt_recompute_bins(tbl, width):
    rows = tbl.read().filter(F.col("val").isNotNull()).collect()
    bins: dict[tuple[str, int], int] = {}
    for r in rows:
        k = (r.grp, r.val // width)  # python // is floor division
        bins[k] = bins.get(k, 0) + 1
    return bins


def _mk_qt(spark, tmp_path, width=10):
    from qin_cdc_spark.streaming.derived import DerivedQuantileTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedQuantileTable(
        spark, str(tmp_path / "qmv"), group_cols=["grp"], value_col="val",
        bin_width=width,
    )
    return tbl, mv


def test_quantile_tracks_source_through_mutations(spark, tmp_path):
    tbl, mv = _mk_qt(spark, tmp_path)
    tbl.merge(
        _qt_changes(
            spark,
            [("insert", i, i, "g%d" % (i % 2), i * 7) for i in range(1, 13)],
        )
    )
    assert mv.refresh(tbl) == 1
    assert _qt_state(mv) == _qt_recompute_bins(tbl, 10)

    # group move, value rewrite, delete, insert, a null arrival — one batch
    tbl.merge(
        _qt_changes(
            spark,
            [
                ("update", 100, 1, "g0", 7),     # g1 → g0 move
                ("update", 101, 2, "g0", 999),   # value rewrite (bin move)
                ("delete", 102, 3, "g1", 21),
                ("insert", 103, 20, "g1", 55),
                ("insert", 104, 21, "g0", None),  # nulls never count
            ],
        )
    )
    # a second batch before refreshing: net CDF across two versions
    tbl.merge(_qt_changes(spark, [("update", 200, 21, "g0", 60)]))
    assert mv.refresh(tbl) == 3
    assert _qt_state(mv) == _qt_recompute_bins(tbl, 10)

    before = _qt_state(mv)
    assert mv.refresh(tbl) == 3  # idempotent no-op
    assert _qt_state(mv) == before


def test_quantile_retraction_never_reads_source(spark, tmp_path):
    """The design point vs min/max: retraction folds into bin counts —
    an incremental refresh NEVER plans a pass over the source table
    (extrema's bounded rescan does not exist here)."""
    tbl, mv = _mk_qt(spark, tmp_path)
    tbl.merge(
        _qt_changes(
            spark, [("insert", i, i, "g", i * 10) for i in range(1, 9)]
        )
    )
    mv.refresh(tbl)
    # delete the max and min rows, rewrite another — the extrema-hard case
    tbl.merge(
        _qt_changes(
            spark,
            [("delete", 10, 8, "g", 80), ("delete", 11, 1, "g", 10),
             ("update", 12, 4, "g", 5)],
        )
    )

    def boom(*a, **k):  # pragma: no cover - called means failure
        raise AssertionError("incremental quantile refresh read the source")

    orig_read_at, orig_read = tbl.read_at, tbl.read
    tbl.read_at = boom
    tbl.read = boom
    try:
        mv.refresh(tbl)
    finally:
        tbl.read_at, tbl.read = orig_read_at, orig_read
    assert _qt_state(mv) == _qt_recompute_bins(tbl, 10)


def test_quantile_walk_bounds_exact_order_statistic(spark, tmp_path):
    """quantiles() returns the upper edge of the bin holding the exact
    p-th order statistic: exact ∈ [q_ub − width, q_ub)."""
    tbl, mv = _mk_qt(spark, tmp_path, width=10)
    vals = [3, 11, 12, 25, 37, 41, 58, 99, 100, 104]
    tbl.merge(
        _qt_changes(
            spark,
            [("insert", i + 1, i + 1, "g", v) for i, v in enumerate(vals)],
        )
    )
    mv.refresh(tbl)
    out = mv.quantiles([("p50", 50, 100), ("p90", 90, 100)]).collect()[0]
    assert out.n_rows == len(vals)
    sv = sorted(vals)

    def exact(p_num, p_den):
        rank = -(-len(sv) * p_num // p_den)  # ceil
        return sv[rank - 1]

    for name, pn, pd in [("p50", 50, 100), ("p90", 90, 100)]:
        ub = out[name]
        ex = exact(pn, pd)
        assert ub - 10 <= ex < ub


def test_quantile_negative_values_floor_binning(spark, tmp_path):
    """Bins are sign-correct floor division (not truncation): −5 with
    width 10 lands in bin −1, not bin 0."""
    tbl, mv = _mk_qt(spark, tmp_path, width=10)
    tbl.merge(
        _qt_changes(
            spark,
            [("insert", 1, 1, "g", -5), ("insert", 2, 2, "g", -10),
             ("insert", 3, 3, "g", 5)],
        )
    )
    mv.refresh(tbl)
    assert _qt_state(mv) == {("g", -1): 2, ("g", 0): 1}
    assert _qt_state(mv) == _qt_recompute_bins(tbl, 10)


def test_quantile_random_mutations_match_full_recompute(spark, tmp_path):
    import random

    rng = random.Random(0x9A17)
    tbl, mv = _mk_qt(spark, tmp_path, width=25)
    groups = ["a", "b"]
    live: dict[int, tuple[str, int | None]] = {}
    seq = 0
    next_id = 0
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(3, 10)):
            seq += 1
            kind = rng.random()
            if kind < 0.45 or not live:
                next_id += 1
                g = rng.choice(groups)
                v = None if rng.random() < 0.1 else rng.randint(-100, 400)
                live[next_id] = (g, v)
                batch.append(("insert", seq, next_id, g, v))
            elif kind < 0.75:
                i = rng.choice(list(live))
                g = rng.choice(groups)
                v = None if rng.random() < 0.1 else rng.randint(-100, 400)
                live[i] = (g, v)
                batch.append(("update", seq, i, g, v))
            else:
                i = rng.choice(list(live))
                g, v = live.pop(i)
                batch.append(("delete", seq, i, g, v))
        tbl.merge(_qt_changes(spark, batch))
        mv.refresh(tbl)
        assert _qt_state(mv) == _qt_recompute_bins(tbl, 25)


# -- DerivedTopKTable ----------------------------------------------------------


def _tk_changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, val long"
    )


def _tk_recompute(tbl, k):
    rows = [
        (r.grp, r.id, r.val)
        for r in tbl.read().collect()
        if r.val is not None
    ]
    out = {}
    bygrp: dict[str, list] = {}
    for g, i, v in rows:
        bygrp.setdefault(g, []).append((-v, i))
    for g, items in bygrp.items():
        for rank, (nv, i) in enumerate(sorted(items)[:k], start=1):
            out[(g, rank)] = (i, -nv)
    return out


def _tk_view(mv):
    out = mv.read()
    return {} if out is None else {
        (r.grp, r.rank): (r.id, r.val) for r in out.collect()
    }


def _mk_tk(spark, tmp_path, k=2, buffer_size=4):
    from qin_cdc_spark.streaming.derived import DerivedTopKTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedTopKTable(
        spark, str(tmp_path / "tkmv"), group_cols=["grp"], key_cols=["id"],
        value_col="val", k=k, buffer_size=buffer_size,
    )
    return tbl, mv


def _no_source_reads(tbl):
    """Context: any pass over the source table fails the test."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        def boom(*a, **k):  # pragma: no cover - called means failure
            raise AssertionError("refresh planned a source pass")

        orig = tbl.read_at, tbl.read, tbl.read_where
        tbl.read_at = boom
        tbl.read = boom
        tbl.read_where = boom
        try:
            yield
        finally:
            tbl.read_at, tbl.read, tbl.read_where = orig

    return ctx()


def test_topk_tracks_source_through_mutations(spark, tmp_path):
    tbl, mv = _mk_tk(spark, tmp_path)
    tbl.merge(
        _tk_changes(
            spark,
            [("insert", i, i, "g%d" % (i % 2), i * 10) for i in range(1, 11)],
        )
    )
    assert mv.refresh(tbl) == 1
    assert _tk_view(mv) == _tk_recompute(tbl, 2)

    # champion delete, runner-up rewrite, group move, new row, null — one
    # batch; then another batch before refreshing (net CDF of 2 versions)
    tbl.merge(
        _tk_changes(
            spark,
            [
                ("delete", 100, 10, "g0", 100),   # g0's champion
                ("update", 101, 9, "g1", 5),      # g1's champion sinks
                ("update", 102, 8, "g1", 80),     # g0 → g1 move
                ("insert", 103, 20, "g0", 75),
                ("insert", 104, 21, "g0", None),  # nulls never rank
            ],
        )
    )
    tbl.merge(_tk_changes(spark, [("update", 200, 21, "g0", 999)]))
    assert mv.refresh(tbl) == 3
    assert _tk_view(mv) == _tk_recompute(tbl, 2)

    before = _tk_view(mv)
    assert mv.refresh(tbl) == 3  # idempotent no-op
    assert _tk_view(mv) == before


def test_topk_churn_within_slack_skips_rescan(spark, tmp_path):
    """Retractions that leave >= k buffered rows are absorbed by the
    slack: the refresh must not read the source at all."""
    tbl, mv = _mk_tk(spark, tmp_path, k=2, buffer_size=4)
    tbl.merge(
        _tk_changes(spark, [("insert", i, i, "g", i * 10) for i in range(1, 7)])
    )
    mv.refresh(tbl)
    # delete the champion and the #3: buffer 4 -> 2 == k, no underflow
    tbl.merge(
        _tk_changes(
            spark, [("delete", 10, 6, "g", 60), ("delete", 11, 4, "g", 40)]
        )
    )
    with _no_source_reads(tbl):
        mv.refresh(tbl)
    assert _tk_view(mv) == _tk_recompute(tbl, 2)


def test_topk_underflow_rescans_only_affected_groups(spark, tmp_path):
    tbl, mv = _mk_tk(spark, tmp_path, k=2, buffer_size=3)
    rows = [("insert", i, i, "a", i * 10) for i in range(1, 7)]
    rows += [("insert", 10 + i, 10 + i, "b", i * 7) for i in range(1, 7)]
    tbl.merge(_tk_changes(spark, rows))
    mv.refresh(tbl)
    # delete a's entire buffer (top-3) -> underflow; b untouched
    tbl.merge(
        _tk_changes(
            spark,
            [("delete", 100, 6, "a", 60), ("delete", 101, 5, "a", 50),
             ("delete", 102, 4, "a", 40)],
        )
    )
    seen = []
    orig = mv._rescan_rows

    def spy(source, groups, version):
        seen.append({r.grp for r in groups.collect()})
        return orig(source, groups, version)

    mv._rescan_rows = spy
    try:
        mv.refresh(tbl)
    finally:
        mv._rescan_rows = orig
    assert seen == [{"a"}]
    assert _tk_view(mv) == _tk_recompute(tbl, 2)


def test_topk_group_born_in_range_builds_without_rescan(spark, tmp_path):
    """A group absent from the old state is fully covered by its own
    additions — it must build exactly with no source pass."""
    tbl, mv = _mk_tk(spark, tmp_path, k=2, buffer_size=4)
    tbl.merge(_tk_changes(spark, [("insert", 1, 1, "old", 10)]))
    mv.refresh(tbl)
    tbl.merge(
        _tk_changes(
            spark,
            [("insert", 10, 20, "new", 5), ("insert", 11, 21, "new", 9),
             ("insert", 12, 22, "new", 7)],
        )
    )
    with _no_source_reads(tbl):
        mv.refresh(tbl)
    assert _tk_view(mv) == _tk_recompute(tbl, 2)


def test_topk_addition_below_surviving_floor_is_not_trusted(spark, tmp_path):
    """An addition ranking below the surviving buffer floor may rank
    below unseen non-buffer rows — it must not enter the buffer as
    'exact'.  Construct: buffer floor 40 (rows 60,50,40 of 10..60),
    delete 60 and 50 (buffer -> just 40), insert 35: true #2 is the
    unseen 30?? no — unseen rows are 10,20,30, all < 35, so true top-2
    is (40, 35).  A naive merge would also answer (40, 35) — make the
    trap REAL: insert 15 (below unseen 20 and 30).  Exact top-2 is
    (40, 30); keeping 15 as rank-2 would be wrong.  The refresh must
    rescan (buffer underflow: only '40' + untrusted '15' < k=2... )."""
    tbl, mv = _mk_tk(spark, tmp_path, k=2, buffer_size=3)
    tbl.merge(
        _tk_changes(spark, [("insert", i, i, "g", i * 10) for i in range(1, 7)])
    )
    mv.refresh(tbl)  # buffer: 60,50,40 ; unseen: 30,20,10
    tbl.merge(
        _tk_changes(
            spark,
            [("delete", 10, 6, "g", 60), ("delete", 11, 5, "g", 50),
             ("insert", 12, 20, "g", 15)],
        )
    )
    mv.refresh(tbl)
    assert _tk_view(mv) == _tk_recompute(tbl, 2) == {
        ("g", 1): (4, 40), ("g", 2): (3, 30)
    }


def test_topk_value_ties_break_by_key_asc(spark, tmp_path):
    tbl, mv = _mk_tk(spark, tmp_path, k=3, buffer_size=4)
    tbl.merge(
        _tk_changes(
            spark,
            [("insert", 1, 7, "g", 50), ("insert", 2, 3, "g", 50),
             ("insert", 3, 5, "g", 50), ("insert", 4, 1, "g", 40)],
        )
    )
    mv.refresh(tbl)
    assert _tk_view(mv) == {("g", 1): (3, 50), ("g", 2): (5, 50), ("g", 3): (7, 50)}
    # retract the tie with the SMALLEST key; slack absorbs it
    tbl.merge(_tk_changes(spark, [("delete", 10, 3, "g", 50)]))
    with _no_source_reads(tbl):
        mv.refresh(tbl)
    assert _tk_view(mv) == {("g", 1): (5, 50), ("g", 2): (7, 50), ("g", 3): (1, 40)}


def test_topk_random_mutations_match_full_recompute(spark, tmp_path):
    import random

    rng = random.Random(0x70B1)
    tbl, mv = _mk_tk(spark, tmp_path, k=3, buffer_size=5)
    groups = ["a", "b"]
    live: dict[int, tuple[str, int | None]] = {}
    seq = 0
    next_id = 0
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(3, 10)):
            seq += 1
            kind = rng.random()
            if kind < 0.4 or not live:
                next_id += 1
                g = rng.choice(groups)
                v = None if rng.random() < 0.1 else rng.randint(0, 60)
                live[next_id] = (g, v)
                batch.append(("insert", seq, next_id, g, v))
            elif kind < 0.7:
                i = rng.choice(list(live))
                g = rng.choice(groups)
                v = None if rng.random() < 0.1 else rng.randint(0, 60)
                live[i] = (g, v)
                batch.append(("update", seq, i, g, v))
            else:
                i = rng.choice(list(live))
                g, v = live.pop(i)
                batch.append(("delete", seq, i, g, v))
        tbl.merge(_tk_changes(spark, batch))
        mv.refresh(tbl)
        assert _tk_view(mv) == _tk_recompute(tbl, 3)


# -- failed pointer flip, every pointer view ------------------------------------


def _mk_agg(spark, tmp_path):
    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedAggTable(
        spark, str(tmp_path / "mv"), group_cols=["grp"], sum_cols=["amt"]
    )
    return tbl, mv


# kind → (make (source, view), change rows, view contents, full recompute);
# change rows are (op, seq, id, grp, int value)
_POINTER_VIEWS = {
    "agg": (_mk_agg, _changes, _view, _recompute),
    "extrema": (_mk_ext, _ext_changes, _ext_view, _ext_recompute),
    "quantile": (_mk_qt, _qt_changes, _qt_state, lambda t: _qt_recompute_bins(t, 10)),
    "distinct": (
        _mk_dd,
        lambda s, rows: _dd_changes(s, [(*r[:4], str(r[4])) for r in rows]),
        _dd_view,
        _dd_recompute,
    ),
    "topk": (_mk_tk, _tk_changes, _tk_view, lambda t: _tk_recompute(t, 2)),
}


@pytest.mark.parametrize("kind", list(_POINTER_VIEWS))
def test_pointer_view_survives_failed_flip(spark, tmp_path, monkeypatch, kind):
    """The pointer flip fails once, after the refresh wrote its data:
    the view keeps serving its pre-crash state and version, and the
    replayed refresh equals the full recompute and leaves no data dir
    the live pointer does not name."""
    from qin_cdc_spark.streaming import pointer

    make, changes, view, recompute = _POINTER_VIEWS[kind]
    tbl, mv = make(spark, tmp_path)
    tbl.merge(changes(spark, [
        ("insert", 1, 1, "g", 5), ("insert", 2, 2, "g", 9), ("insert", 3, 3, "h", 7),
    ]))
    mv.refresh(tbl)
    before, v_before = view(mv), mv.applied_version()
    dirs_before = set(os.listdir(mv.path))
    # empty g (delete its minimum, move its other row to h), grow h
    tbl.merge(changes(spark, [
        ("delete", 10, 1, "g", 5), ("update", 11, 2, "h", 4), ("insert", 12, 4, "h", 11),
    ]))

    real, failed = pointer.publish, []

    def flip_fails_once(*args):
        if not failed:
            failed.append(args)
            raise RuntimeError("crash at the pointer flip")
        real(*args)

    monkeypatch.setattr(pointer, "publish", flip_fails_once)
    with pytest.raises(RuntimeError, match="pointer flip"):
        mv.refresh(tbl)
    assert set(os.listdir(mv.path)) - dirs_before  # the crash left its data
    assert view(mv) == before
    assert mv.applied_version() == v_before

    assert mv.refresh(tbl) == tbl.current_version()
    assert view(mv) == recompute(tbl)
    meta = mv._meta()
    live = {meta.get("data"), meta.get("rollup"), *meta.get("buckets", {}).values()}
    dirs = {d for d in os.listdir(mv.path) if os.path.isdir(os.path.join(mv.path, d))}
    assert dirs == live - {None}


def test_quantile_and_topk_mvs_refresh_inside_the_stream(spark, tmp_path):
    """post_batch hook parity for the two round-5 MVs, attached to the
    SAME stream: one versioned route maintains a quantile histogram and
    a top-k buffer within each micro-batch; both end equal to their
    full recomputes."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import (
        CdcStreamRoute,
        file_envelope_stream,
        start_cdc_stream,
    )
    from qin_cdc_spark.streaming.derived import (
        DerivedQuantileTable,
        DerivedTopKTable,
    )
    from pyspark.sql.types import _parse_datatype_string

    env_dir = str(tmp_path / "env")
    typed1 = _tk_changes(
        spark, [("insert", i, i, "g%d" % (i % 2), i * 10) for i in range(1, 9)]
    )
    typed2 = _tk_changes(
        spark,
        [("delete", 10, 8, "g0", 80), ("update", 11, 7, "g0", 5),
         ("insert", 12, 20, "g1", 300)],
    )
    for t in (typed1, typed2):
        envelope_from_typed(
            t.select("id", "grp", "val", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=_parse_datatype_string("id long, grp string, val long"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        versioned=True,
    )
    qmv = DerivedQuantileTable(
        spark, str(tmp_path / "qmv"), group_cols=["grp"], value_col="val",
        bin_width=25,
    )
    tkmv = DerivedTopKTable(
        spark, str(tmp_path / "tkmv"), group_cols=["grp"], key_cols=["id"],
        value_col="val", k=2, buffer_size=4,
    )

    def post_batch(batch_id):
        if route.target is not None and route.target.exists():
            qmv.refresh(route.target)
            tkmv.refresh(route.target)

    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=post_batch,
    )
    q.awaitTermination(300)
    assert qmv.applied_version() == route.target.current_version()
    assert tkmv.applied_version() == route.target.current_version()
    assert _qt_state(qmv) == _qt_recompute_bins(route.target, 25)
    assert _tk_view(tkmv) == _tk_recompute(route.target, 2)


# -- DerivedKeyedAggTable ------------------------------------------------------


def _ka_changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, id long, grp string, amt long"
    )


def _ka_recompute(tbl):
    return {
        r.grp: (r.cnt, r.s)
        for r in tbl.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("amt").alias("s"))
        .collect()
    }


def _ka_view(mv):
    out = mv.read()
    return {} if out is None else {
        r.grp: (r.cnt, r.sum_amt) for r in out.collect()
    }


def _mk_ka(spark, tmp_path, **kw):
    from qin_cdc_spark.streaming.derived import DerivedKeyedAggTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "src"), ["id"], n_buckets=4)
    mv = DerivedKeyedAggTable(
        spark, str(tmp_path / "kamv"), group_cols=["grp"], sum_cols=["amt"],
        n_buckets=kw.get("n_buckets", 8),
    )
    return tbl, mv


def test_keyed_agg_tracks_source_through_mutations(spark, tmp_path):
    tbl, mv = _mk_ka(spark, tmp_path)
    # high-cardinality groups: 16 distinct, several rows each
    tbl.merge(
        _ka_changes(
            spark,
            [("insert", i, i, "g%02d" % (i % 16), i * 10) for i in range(1, 49)],
        )
    )
    assert mv.refresh(tbl) == 1
    assert _ka_view(mv) == _ka_recompute(tbl)

    tbl.merge(
        _ka_changes(
            spark,
            [
                ("update", 100, 1, "g01", 999),   # in-place rewrite
                ("update", 101, 2, "g00", 555),   # group move
                ("delete", 102, 3, "g03", 30),
                ("insert", 103, 60, "g99", 70),   # brand-new group
            ],
        )
    )
    tbl.merge(_ka_changes(spark, [("update", 200, 60, "g98", 71)]))
    assert mv.refresh(tbl) == 3
    assert _ka_view(mv) == _ka_recompute(tbl)

    before = _ka_view(mv)
    assert mv.refresh(tbl) == 3  # idempotent no-op
    assert _ka_view(mv) == before


def test_keyed_agg_rewrites_only_touched_state_buckets(spark, tmp_path):
    """The design point: a small delta rewrites only the state buckets
    its groups hash into — untouched bucket dirs carry by name."""
    tbl, mv = _mk_ka(spark, tmp_path, n_buckets=16)
    tbl.merge(
        _ka_changes(
            spark,
            [("insert", i, i, "g%02d" % (i % 24), i) for i in range(1, 49)],
        )
    )
    mv.refresh(tbl)
    meta0 = mv.store._meta()
    before = dict(meta0["versions"][str(meta0["current"])]["buckets"])
    tbl.merge(_ka_changes(spark, [("insert", 100, 100, "g00", 5)]))
    mv.refresh(tbl)
    meta1 = mv.store._meta()
    after = dict(meta1["versions"][str(meta1["current"])]["buckets"])
    changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    assert len(changed) == 1  # one group changed -> exactly one bucket rewritten
    assert _ka_view(mv) == _ka_recompute(tbl)


def test_keyed_agg_emptied_group_row_deleted(spark, tmp_path):
    tbl, mv = _mk_ka(spark, tmp_path)
    tbl.merge(
        _ka_changes(
            spark, [("insert", 1, 1, "solo", 5), ("insert", 2, 2, "dual", 7)]
        )
    )
    mv.refresh(tbl)
    tbl.merge(_ka_changes(spark, [("delete", 10, 1, "solo", 5)]))
    mv.refresh(tbl)
    got = _ka_view(mv)
    assert "solo" not in got and got["dual"] == (1, 7)


def test_keyed_agg_progress_commits_atomically_with_state(spark, tmp_path):
    """State and applied-version are ONE manifest flip: after a refresh
    the store's last_batch_id IS the applied source version, and a
    replayed refresh over the same range no-ops on the batch guard
    instead of double-applying the delta."""
    tbl, mv = _mk_ka(spark, tmp_path)
    tbl.merge(_ka_changes(spark, [("insert", 1, 1, "g", 5)]))
    mv.refresh(tbl)
    tbl.merge(_ka_changes(spark, [("insert", 2, 2, "g", 7)]))
    mv.refresh(tbl)
    assert mv.store.last_batch_id() == tbl.current_version() == 2
    assert _ka_view(mv) == {"g": (2, 12)}
    # double-apply hazard: replay the same CDF range directly against
    # the store — the batch guard must make it a no-op
    cdf = tbl.changes_between(1, 2, include_preimage=True)
    mv.store.merge(mv._events(mv._delta(cdf).select(
        "grp", F.col("_dcnt").alias("cnt"), F.col("_dsum_amt").alias("sum_amt")
    ), 2), batch_id=2)
    assert _ka_view(mv) == {"g": (2, 12)}


def test_keyed_agg_random_mutations_match_full_recompute(spark, tmp_path):
    import random

    rng = random.Random(0x4A9D)
    tbl, mv = _mk_ka(spark, tmp_path)
    groups = ["g%02d" % i for i in range(12)]
    live: dict[int, tuple[str, int]] = {}
    seq = 0
    next_id = 0
    for _ in range(4):
        batch = []
        for _ in range(rng.randint(4, 12)):
            seq += 1
            kind = rng.random()
            if kind < 0.45 or not live:
                next_id += 1
                g, v = rng.choice(groups), rng.randint(0, 99)
                live[next_id] = (g, v)
                batch.append(("insert", seq, next_id, g, v))
            elif kind < 0.75:
                i = rng.choice(list(live))
                g, v = rng.choice(groups), rng.randint(0, 99)
                live[i] = (g, v)
                batch.append(("update", seq, i, g, v))
            else:
                i = rng.choice(list(live))
                g, v = live.pop(i)
                batch.append(("delete", seq, i, g, v))
        tbl.merge(_ka_changes(spark, batch))
        mv.refresh(tbl)
        assert _ka_view(mv) == _ka_recompute(tbl)


def test_keyed_agg_chains_level2_from_level1_cdf(spark, tmp_path):
    """MVs chain: a level-2 view (how many groups hold each row-count)
    maintains itself from the LEVEL-1 view's own change feed — O(delta)
    at both levels, no recompute anywhere."""
    from qin_cdc_spark.streaming.derived import DerivedKeyedAggTable

    tbl, mv1 = _mk_ka(spark, tmp_path)
    mv2 = DerivedKeyedAggTable(
        spark, str(tmp_path / "lvl2"), group_cols=["cnt"], sum_cols=[],
        n_buckets=4, cnt_col="n_groups",
    )

    def recompute_lvl2():
        hist: dict[int, int] = {}
        for cnt, _ in _ka_recompute(tbl).values():
            hist[cnt] = hist.get(cnt, 0) + 1
        return hist

    def view_lvl2():
        out = mv2.read()
        return {} if out is None else {r.cnt: r.n_groups for r in out.collect()}

    tbl.merge(
        _ka_changes(
            spark,
            [("insert", i, i, "g%d" % (i % 5), i) for i in range(1, 14)],
        )
    )
    mv1.refresh(tbl)
    mv2.refresh(mv1.store)
    assert view_lvl2() == recompute_lvl2()

    # mutations ripple: group moves change two level-1 counts at once
    tbl.merge(
        _ka_changes(
            spark,
            [("delete", 100, 1, "g1", 1), ("update", 101, 2, "g0", 2),
             ("insert", 102, 20, "g9", 50)],
        )
    )
    mv1.refresh(tbl)
    mv2.refresh(mv1.store)
    assert view_lvl2() == recompute_lvl2()

    # and the chain is incremental: level-2's applied version tracks
    # level-1's store version, not the base table's
    assert mv2.applied_version() == mv1.store.current_version()


def test_keyed_agg_chain_refreshes_inside_the_stream(spark, tmp_path):
    """post_batch hook parity for the keyed aggregate AND its level-2
    chain: one versioned route ripples base → per-key totals →
    count-histogram within each micro-batch."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import (
        CdcStreamRoute,
        file_envelope_stream,
        start_cdc_stream,
    )
    from qin_cdc_spark.streaming.derived import DerivedKeyedAggTable
    from pyspark.sql.types import _parse_datatype_string

    env_dir = str(tmp_path / "env")
    typed1 = _ka_changes(
        spark, [("insert", i, i, "g%d" % (i % 3), i * 10) for i in range(1, 8)]
    )
    typed2 = _ka_changes(
        spark,
        [("delete", 10, 1, "g1", 10), ("update", 11, 2, "g0", 5),
         ("insert", 12, 20, "g9", 300)],
    )
    for t in (typed1, typed2):
        envelope_from_typed(
            t.select("id", "grp", "amt", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=_parse_datatype_string("id long, grp string, amt long"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        versioned=True,
    )
    mv1 = DerivedKeyedAggTable(
        spark, str(tmp_path / "mv1"), group_cols=["grp"], sum_cols=["amt"],
        n_buckets=4,
    )
    mv2 = DerivedKeyedAggTable(
        spark, str(tmp_path / "mv2"), group_cols=["cnt"], sum_cols=[],
        n_buckets=2, cnt_col="n_groups",
    )

    def post_batch(batch_id):
        if route.target is not None and route.target.exists():
            mv1.refresh(route.target)
            mv2.refresh(mv1.store)

    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=post_batch,
    )
    q.awaitTermination(300)
    assert mv1.applied_version() == route.target.current_version()
    assert mv2.applied_version() == mv1.store.current_version()
    assert _ka_view(mv1) == _ka_recompute(route.target)
    hist: dict = {}
    for cnt, _ in _ka_recompute(route.target).values():
        hist[cnt] = hist.get(cnt, 0) + 1
    assert {r.cnt: r.n_groups for r in mv2.read().collect()} == hist


def test_keyed_agg_survives_source_add_column(spark, tmp_path):
    """Schema evolution resilience: the source gains a column mid-stream
    (merge aligns schemas; untouched buckets keep the old file schema).
    An MV aggregating the ORIGINAL columns keeps refreshing through the
    boundary — the CDF's mergeSchema read presents the union schema and
    the MV simply never references the new column."""
    tbl, mv = _mk_ka(spark, tmp_path)
    tbl.merge(
        _ka_changes(spark, [("insert", i, i, "g%d" % (i % 2), i) for i in range(1, 7)])
    )
    mv.refresh(tbl)
    evolved = spark.createDataFrame(
        [("insert", 10, 20, "g0", 7, "x"), ("update", 11, 1, "g1", 99, "y"),
         ("delete", 12, 2, "g0", 2, None)],
        "op string, seq long, id long, grp string, amt long, note string",
    )
    tbl.merge(evolved)
    mv.refresh(tbl)
    assert _ka_view(mv) == _ka_recompute(tbl)


def test_keyed_agg_all_null_delta_keeps_prior_sum(spark, tmp_path):
    """A delta whose value column is entirely NULL must not null out
    the stored total (arithmetic merge trap: prior + NULL = NULL)."""
    tbl, mv = _mk_ka(spark, tmp_path)
    tbl.merge(_ka_changes(spark, [("insert", 1, 1, "g", 5), ("insert", 2, 2, "g", 7)]))
    mv.refresh(tbl)
    tbl.merge(_ka_changes(spark, [("insert", 10, 3, "g", None)]))
    mv.refresh(tbl)
    assert _ka_view(mv) == {"g": (3, 12)}
